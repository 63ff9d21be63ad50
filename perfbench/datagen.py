"""The seeded input of the ``meter_ingest`` workload.

``write_ingest_batches`` writes interval meter reads split into batches,
alternating ESPI ``IntervalBlock`` XML files and CSV files, with duplicate
corrections (a later version of an earlier read) and late reads (a read for
an earlier day). It is a function of the run's ``--seed``. The query
workloads read no generated input: they read the fixture tables under
``fixtures/``.
"""

from __future__ import annotations

import csv
import datetime as dt
import os

import numpy as np

INGEST_BATCHES = 4
TRACES_PER_BATCH = 8
HOURS_PER_TRACE = 48
CSV_COLUMNS = ["trace_id", "start", "end", "value", "unit", "estimated", "version"]
CSV_SCHEMA = (
    "trace_id string, start timestamp, `end` timestamp, value double, "
    "unit string, estimated boolean, version int"
)
_EPOCH0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())


def _espi_xml(readings: list[tuple[int, int, bool]]) -> str:
    """One IntervalBlock document; readings are (start_s, wh, estimated)."""
    body = "".join(
        f"<IntervalReading><timePeriod><duration>3600</duration><start>{s}</start>"
        f"</timePeriod><value>{wh}</value>"
        + ("<ReadingQuality><quality>estimated</quality></ReadingQuality>" if est else "")
        + "</IntervalReading>"
        for s, wh, est in readings
    )
    first = readings[0][0]
    return (
        f"<IntervalBlock><interval><duration>{3600 * len(readings)}</duration>"
        f"<start>{first}</start></interval>{body}</IntervalBlock>"
    )


def ingest_batches(seed: int) -> list[dict]:
    """The meter_ingest stream as plain records.

    Returns one dict per batch: ``fmt`` ('xml' or 'csv'), ``records``
    (trace_id, start_s, wh, estimated, version), ``files`` (remote file
    names), ``flaky`` (files whose first fetch fails) and ``upload_fails``
    (how often each upload chunk fails before it lands). Even batches are XML,
    odd batches CSV. Each batch reads ``TRACES_PER_BATCH`` meters for one
    day; CSV batches also carry corrections (a higher version of a read an
    earlier batch sent) and late reads (the previous day of a meter)."""
    rng = np.random.default_rng(seed)
    batches = []
    sent: set[tuple[str, int]] = set()
    for b in range(INGEST_BATCHES):
        fmt = "xml" if b % 2 == 0 else "csv"
        day0 = _EPOCH0 + b * 86_400
        traces = sorted(f"m{t:03d}" for t in rng.choice(40, TRACES_PER_BATCH, replace=False))
        recs = [
            (tr, day0 + 3600 * h, int(rng.integers(50, 5000)), bool(rng.random() < 0.1), b * 10)
            for tr in traces
            for h in range(HOURS_PER_TRACE // 2)
        ]
        if fmt == "csv":
            for tr in traces[:2]:  # late reads: the day before this batch
                for h in range(0, 24, 3):
                    recs.append((tr, day0 - 86_400 + 3600 * h, int(rng.integers(50, 5000)), False, b * 10))
            earlier = sorted(sent)
            for i in rng.choice(len(earlier), min(len(earlier), 20), replace=False):
                tr, s = earlier[i]  # corrections of earlier reads, two revisions
                recs.append((tr, s, int(rng.integers(50, 5000)), False, b * 10 + 1))
                recs.append((tr, s, int(rng.integers(50, 5000)), False, b * 10 + 2))
            files = [f"b{b}_part{k}.csv" for k in range(2)]
        else:
            files = [f"{tr}.xml" for tr in traces]
        sent.update((r[0], r[1]) for r in recs)
        flaky = [f for f in files if rng.random() < 0.5]
        upload_fails = int(rng.random() < 0.5)
        batches.append(
            {"fmt": fmt, "records": recs, "files": files, "flaky": flaky, "upload_fails": upload_fails}
        )
    return batches


def write_ingest_batches(root: str, seed: int) -> None:
    """Write each batch's remote files (see :func:`ingest_batches`) under
    ``root/b{N}/``."""
    for b, batch in enumerate(ingest_batches(seed)):
        d = os.path.join(root, f"b{b}")
        os.makedirs(d, exist_ok=True)
        for k, name in enumerate(batch["files"]):
            path = os.path.join(d, name)
            if batch["fmt"] == "xml":
                trace = name[: -len(".xml")]
                mine = [(s, wh, est) for tr, s, wh, est, _v in batch["records"] if tr == trace]
                with open(path, "w") as f:
                    f.write(_espi_xml(mine))
            else:
                with open(path, "w", newline="") as f:
                    w = csv.writer(f)
                    w.writerow(CSV_COLUMNS)
                    for i, (tr, s, wh, est, ver) in enumerate(batch["records"]):
                        if i % len(batch["files"]) == k:
                            w.writerow(
                                [tr, _iso(s), _iso(s + 3600), f"{wh * 0.001:.3f}", "kWh",
                                 str(est).lower(), ver]
                            )


def _iso(epoch_s: int) -> str:
    return dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
