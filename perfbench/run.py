"""Benchmark entry point.

    python3 perfbench/run.py --workload meter_etl --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Generates the ``meter_ingest`` inputs
(cached under ``.perfbench/inputs``, with the query oracles' results),
starts ``measure.py`` as a child process with the checkout on its
``PYTHONPATH``, samples the resident memory of the child's process tree
(Python driver, driver JVM, pyspark workers) from ``/proc``, and prints one
JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones. See README.md for the metrics, workloads and layer map.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import datagen
import tracing

WORKLOADS = ("meter_etl", "corpus_curation", "meter_ingest")
RUN_TIMEOUT_S = 170
HERE = os.path.dirname(os.path.abspath(__file__))
# the repository's scale-factor 0.01 fixture tables, byte for byte
CATALOG = os.path.join(HERE, "fixtures", "sf0.01")


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


class RssSampler(threading.Thread):
    """Peak RSS of a process tree, sampled every ``period`` s: the JVM's
    and the Python processes' (driver and workers) summed RSS, each with
    its own peak."""

    def __init__(self, pid: int, period: float = 0.05):
        super().__init__(daemon=True)
        self.pid, self.period = pid, period
        self.page = os.sysconf("SC_PAGE_SIZE")
        self.peak = {"jvm": 0, "python": 0}
        self.done = threading.Event()

    def run(self) -> None:
        while not self.done.is_set():
            cur = {"jvm": 0, "python": 0}
            tree = tracing.proc_tree(self.pid)
            for pid, (comm, ppid) in tree.items():
                # A JVM child that is still the JVM's binary is a fork
                # before its exec (Hadoop runs chmod for every file it
                # writes): it shares every page with the JVM, and counting
                # it would double the JVM at random instants.
                if tree.get(ppid, ("",))[0] == "java" and _exe(pid) == _exe(ppid):
                    continue
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        rss = int(f.read().split()[1]) * self.page
                except (OSError, IndexError, ValueError):
                    continue
                if comm == "java":
                    cur["jvm"] += rss
                elif comm.startswith("python"):
                    cur["python"] += rss
            for k, v in cur.items():
                self.peak[k] = max(self.peak[k], v)
            self.done.wait(self.period)


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def driver_heap() -> tuple[str, str]:
    """The driver heap: a fixed 2 GiB (less on a machine with under 8 GiB),
    committed from the start but touched only as it is used, with a young
    generation fixed at a quarter of it. Returns (``spark.driver.memory``,
    JVM flags).

    The library's 48g default exceeds small machines' memory. A heap that
    starts at its cap takes heap resizing out of the timings: with a
    growing heap, query passes kept speeding up for a dozen passes as it
    grew. The heap is not pre-touched, so ``peak_rss_mb`` shows how much of
    it the run used; the young generation is fixed because G1's adaptive
    sizing of it, not the program, then decided how much of the heap got
    touched (the JVM's peak RSS moved between 1.3 and 1.8 GB across runs of
    the same code). Sizes are given as shares, not ``-Xms`` or ``-Xmn``,
    because ``JAVA_TOOL_OPTIONS`` also reaches Spark's launcher JVM, whose
    smaller ``-Xmx`` clamps a share but rejects an ``-Xms`` above it."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    mb = min(2048, kb // 4096)
    young = "-XX:+UnlockExperimentalVMOptions -XX:G1NewSizePercent=25 -XX:G1MaxNewSizePercent=25"
    return f"{mb}m", f"-XX:InitialRAMPercentage={100 * mb * 1024 / kb:.3f} {young}"


def group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    s = f.read()
            except OSError:
                continue
            if int(s[s.rindex(")") + 2 :].split()[2]) == pgid:
                return True
    return False


def stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the child's process group and wait for it."""
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGTERM)
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            pass
    deadline = time.time() + 15
    while group_alive(proc.pid) and time.time() < deadline:
        time.sleep(0.1)
    if group_alive(proc.pid):
        os.killpg(proc.pid, signal.SIGKILL)
        while group_alive(proc.pid):
            time.sleep(0.1)
    proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "oeem_etl_spark", "session.py")):
        print("perfbench: no oeem_etl_spark/ here; run from the root of a checkout", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench")
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs, exist_ok=True)
    remote = os.path.join(inputs, f"ingest_seed{args.seed}")
    if args.workload == "meter_ingest" and not os.path.isdir(remote):
        datagen.write_ingest_batches(remote + ".tmp", args.seed)
        os.replace(remote + ".tmp", remote)

    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "jvm-tmp", "spark-local", "work"):
        os.makedirs(os.path.join(run_dir, sub))
    heap, heap_flag = driver_heap()
    env = dict(
        os.environ,
        # pyspark workers import oeem_etl_spark: give them the checkout
        PYTHONPATH=os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])),
        SPARK_GRAFT_CPUS=str(os.cpu_count()),
        SPARK_GRAFT_DRIVER_MEM=heap,
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(run_dir, "warehouse"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(run_dir, 'jvm-tmp')} -XX:-UsePerfData {heap_flag}",
        PYSPARK_PYTHON=sys.executable,
        TZ="UTC",
    )
    out = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "measure.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--catalog", CATALOG, "--oracle", os.path.join(inputs, "oracle.json"), "--remote", remote,
        "--work", os.path.join(run_dir, "work"), "--out", out,
    ]
    t0 = time.time()
    cmd += ["--t0", repr(t0)]
    proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr, start_new_session=True)
    sampler = RssSampler(proc.pid)
    sampler.start()
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        sampler.done.set()
        stop_group(proc)
        sampler.join()
    if code != 0 or not os.path.exists(out):
        print(f"perfbench: measured process failed (exit {code})", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 1
    with open(out) as f:
        res = json.load(f)
    if args.trace:
        shutil.copy(
            os.path.join(run_dir, "work", "trace.json"),
            os.path.join(work, f"trace-{args.workload}-seed{args.seed}.json"),
        )
    shutil.rmtree(run_dir, ignore_errors=True)

    mb = 1024 * 1024
    lat = res["op_latency_s"]
    if args.trace:
        metrics = dict(res["per_layer"])
        metrics["mem.jvm_peak_rss_mb"] = sampler.peak["jvm"] / mb
        metrics["mem.python_peak_rss_mb"] = sampler.peak["python"] / mb
        units = {k: _unit(k) for k in metrics}
    else:
        metrics = {
            "setup_s": res["setup_s"],
            "pass_s": statistics.median(res["pass_s"]),
            "op_p50_s": percentile(lat, 0.50),
            "op_p90_s": percentile(lat, 0.90),
            # the sum of the two peaks, not the peak of the sum: the JVM
            # collector shrinks its heap at times of its own, and whether
            # that meets the workers' peak moved the sum's peak by 12%
            "peak_rss_mb": (sampler.peak["jvm"] + sampler.peak["python"]) / mb,
            "bytes_stored_per_input_byte": res["stored_ratio"],
        }
        units = {k: _unit(k) for k in metrics}
    for failure in res["failures"]:
        print("perfbench: FAILED", failure, file=sys.stderr)
    print(
        f"perfbench: {args.workload} seed={args.seed} passes={len(res['pass_s'])} "
        f"op_samples={len(lat)} failed_ops_ratio={res['failed'] / res['attempted']:.4f} "
        f"peak_mb={ {k: round(v / mb) for k, v in sampler.peak.items()} }"
    )
    for k, v in metrics.items():
        print(f"perfbench:   {k} = {v:.6g} {units[k]}")
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("ratio", "util", "per_input_byte")):
        return "ratio"
    if "bytes" in name:
        return "bytes"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
