"""Tracing for the benchmark's traced mode (``--trace 1``).

Spans are recorded from the benchmark's own files, around the calls it
makes into each layer of ``oeem_etl_spark``; nothing inside the package is
instrumented. Two entry points are wrapped by replacing a module attribute
(``session.get_session`` and ``catalog.load_table``, the latter before the
query modules bind it); every other layer boundary is a ``span`` around
the call in ``workloads.py``.

Alongside spans the tracer keeps counters (``count``) and reads Spark's
status store after every op (``EngineMeter``), so the per-stage numbers
are taken before the store's retention limit can drop them.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict


class Tracer:
    """Spans and counters, kept in memory and written out by ``dump``.

    A disabled tracer records nothing; ``span`` then costs one attribute
    test. ``op_id`` tags every span with the op that caused it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.op_id: str | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            self.counts[name] += value

    def wrap(self, module, attr: str, span_name: str, on_call=None) -> None:
        """Replace ``module.attr`` with a wrapper that records a span (and
        calls ``on_call(before, after)`` around it, for counters)."""
        inner = getattr(module, attr)

        def wrapper(*args, **kwargs):
            before = on_call() if on_call else None
            with self.span(span_name):
                out = inner(*args, **kwargs)
            if on_call:
                on_call(before)
            return out

        setattr(module, attr, wrapper)

    def self_times(self, first: int, last: int) -> dict[str, float]:
        """Per-layer self time over spans[first:last]: each span's
        duration minus the time its direct children cover (children run
        inside their parent, one at a time); a layer is the span name up
        to its first dot."""
        child: dict[int, float] = defaultdict(float)
        for s in self.spans[first:last]:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i in range(first, last):
            s = self.spans[i]
            out[s["name"].split(".")[0]] += (s["end"] - s["start"]) - child[i]
        return dict(out)

    def total(self, name: str, first: int = 0) -> float:
        return sum(s["end"] - s["start"] for s in self.spans[first:] if s["name"] == name)

    def top_level(self, first: int, last: int) -> float:
        """Time covered by spans of spans[first:last] that have no parent."""
        return sum(
            s["end"] - s["start"] for s in self.spans[first:last] if s["parent"] is None
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)


class EngineMeter:
    """Per-op Spark work counters read from the driver's status store.

    Stage and job ids are allocated in increasing order, so the stages an
    op ran are those with ids between the scheduler's next-id before and
    after the op. ``delta`` waits for the listener bus to drain (the store
    is updated asynchronously), then reads each of those stages' last
    attempt: nothing is lost to ``spark.ui.retainedStages`` because every
    op is read right after it ends."""

    FIELDS = (
        ("cpu_s", "executorCpuTime", 1e-9),
        ("gc_s", "jvmGcTime", 1e-3),
        ("input_bytes", "inputBytes", 1),
        ("input_records", "inputRecords", 1),
        ("shuffle_write_bytes", "shuffleWriteBytes", 1),
        ("shuffle_fetch_wait_s", "shuffleFetchWaitTime", 1e-3),
        ("spill_bytes", "memoryBytesSpilled", 1),
        ("spill_bytes", "diskBytesSpilled", 1),
    )

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()
        self.mark = self.ids()

    def ids(self) -> tuple[int, int]:
        dag = self.sc.dagScheduler()
        return dag.nextJobId(), dag.nextStageId()

    def jobs_since(self, mark: tuple[int, int]) -> int:
        return self.ids()[0] - mark[0]

    def delta(self) -> dict[str, float]:
        self.sc.listenerBus().waitUntilEmpty(30_000)
        jobs0, stages0 = self.mark
        self.mark = self.ids()
        out: dict[str, float] = defaultdict(float)
        out["jobs"] = self.mark[0] - jobs0
        for sid in range(stages0, self.mark[1]):
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - py4j NoSuchElementException: never submitted
                continue
            if st.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            for key, getter, scale in self.FIELDS:
                out[key] += getattr(st, getter)() * scale
        return out

    def storage_mem_bytes(self) -> int:
        return sum(info.memSize() for info in self.sc.getRDDStorageInfo())


def proc_tree(root: int) -> dict[int, tuple[str, int]]:
    """{pid: (comm, ppid)} for ``root`` and all its descendants."""
    procs: dict[int, tuple[str, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        comm = s[s.index("(") + 1 : s.rindex(")")]
        ppid = int(s[s.rindex(")") + 2 :].split()[1])
        procs[int(d)] = (comm, ppid)
    keep, frontier = {root}, [root]
    children = defaultdict(list)
    for pid, (_c, ppid) in procs.items():
        children[ppid].append(pid)
    while frontier:
        for c in children[frontier.pop()]:
            keep.add(c)
            frontier.append(c)
    return {p: procs[p] for p in keep if p in procs}


def python_worker_cpu_s(driver_pid: int) -> float:
    """CPU seconds (user + system, including reaped children) of the
    pyspark worker processes: the python processes below the driver that
    are not the driver itself."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid, (comm, _ppid) in proc_tree(driver_pid).items():
        if pid == driver_pid or not comm.startswith("python"):
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                s = f.read()
        except OSError:
            continue
        fields = s[s.rindex(")") + 2 :].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick
