"""The measured process: one SparkSession, one workload, one client.

``run.py`` starts this script and reads the JSON it writes to ``--out``.
The schedule is fixed: set-up (session start, ``plans.load_all()`` and a
cold pass over every op, with its correctness checks outside the clock),
``WARMUP_PASSES[workload]`` untimed passes, then timed passes until
``--seconds`` have passed and at least ``MIN_PASSES`` have run. A query
workload's last timed pass is checked after the loop; ``meter_ingest``
checks every pass.

With ``--trace 1`` the layer entry points are wrapped before the query
modules import them, and timed passes alternate traced and untraced, so
one run gives both the per-layer numbers and the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

import tracing
import workloads

# Passes keep speeding up after the cold one (JIT and generated-code
# caches): with one warm-up pass, the first timed query pass was 5-15%
# slower than the next; with none, the first timed ingest pass was up to
# 15% slower, which also showed up as tracing overhead, since the first
# timed pass is the traced one. The counts are kept low so that a run
# stays near a minute.
WARMUP_PASSES = {"meter_etl": 2, "corpus_curation": 2, "meter_ingest": 1}
MIN_PASSES = 2

# Spans whose total time per pass is reported as ``<name>_s``.
SPAN_TOTALS = (
    "catalog.load_table",
    "plans.build",
    "operators.action",
    "sources.fetch",
    "sources.parse",
    "sources.commit",
    "sources.compact",
    "sources.read",
    "sources.upload",
    "streaming.drain",
    "pipelines.run",
)
# Counters reported per pass under their own name.
COUNTS = (
    "catalog.load_table_calls",
    "plans.eager_jobs",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.cpu_s",
    "spark.gc_s",
    "spark.shuffle_write_bytes",
    "spark.shuffle_fetch_wait_s",
    "spark.spill_bytes",
    "spark.input_bytes",
    "spark.input_records",
    "spark.storage_mem_bytes",
    "functions.python_cpu_s",
    "sources.fetch_retries",
    "sources.commits",
    "sources.files_written",
    "sources.bytes_written",
    "sources.upload_retries",
    "streaming.batches",
)
LAYERS = ("catalog", "plans", "operators", "sources", "streaming", "pipelines")


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def per_layer(tracer: tracing.Tracer, session_s: float, traced: list, untraced: list) -> dict:
    """Per-pass means over the traced passes. ``traced`` holds
    (pass wall, first span index, last span index) per traced pass."""
    n = len(traced)
    c = tracer.counts
    out = {"session.start_s": session_s}
    for name in SPAN_TOTALS:
        out[name + "_s"] = tracer.total(name, traced[0][1]) / n
    for name in COUNTS:
        out[name] = c.get(name, 0.0) / n
    calls = c.get("catalog.load_table_calls", 0.0)
    out["catalog.cache_hit_ratio"] = _ratio(calls - c.get("catalog.misses", 0.0), calls)
    wall = sum(w for w, _a, _b in traced)
    out["spark.cpu_util"] = c.get("spark.cpu_s", 0.0) / (wall * os.cpu_count())
    listed = c.get("sources.files_listed", 0.0)
    out["sources.pruned_file_ratio"] = _ratio(listed - c.get("sources.files_read", 0.0), listed)
    out["pipelines.skip_ratio"] = _ratio(c.get("pipelines.skipped", 0.0), c.get("pipelines.tasks", 0.0))
    selfs = {layer: 0.0 for layer in LAYERS}
    unattributed = 0.0
    for w, a, b in traced:
        for layer, s in tracer.self_times(a, b).items():
            selfs[layer] += s
        unattributed += w - tracer.top_level(a, b)
    for layer in LAYERS:
        out[f"self.{layer}_s"] = selfs[layer] / n
    # means, like the self times: self times + unattributed = trace.pass_s
    out["trace.unattributed_s"] = unattributed / n
    out["trace.pass_s"] = wall / n
    out["trace.untraced_pass_s"] = statistics.fmean(untraced)
    out["trace.overhead_s"] = out["trace.pass_s"] - out["trace.untraced_pass_s"]
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t0", type=float, required=True, help="epoch time the process was started")
    ap.add_argument("--catalog", required=True)
    ap.add_argument("--oracle", required=True, help="cache of the query oracles' results")
    ap.add_argument("--remote", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    tracer = tracing.Tracer(enabled=bool(args.trace))
    from oeem_etl_spark import catalog, session

    if args.trace:

        def cache_growth(before=None):
            size = len(catalog._TABLE_CACHE)
            if before is None:
                return size
            tracer.count("catalog.load_table_calls")
            tracer.count("catalog.misses", size - before)

        # before plans.load_all(): plans/util.py binds load_table at import
        tracer.wrap(catalog, "load_table", "catalog.load_table", on_call=cache_growth)
        tracer.wrap(session, "get_session", "session.start")
    spark = session.get_session(cpus=str(os.cpu_count()))
    from oeem_etl_spark import plans

    plans.load_all()

    kw = dict(
        spark=spark,
        tracer=tracer,
        engine=tracing.EngineMeter(spark) if args.trace else None,
        work_dir=args.work,
        seed=args.seed,
    )
    if args.workload == "meter_ingest":
        wl = workloads.IngestWorkload(remote_dir=args.remote, **kw)
    else:
        names = {"meter_etl": workloads.METER_ETL, "corpus_curation": workloads.CORPUS_CURATION}
        wl = workloads.QueryWorkload(names[args.workload], args.catalog, args.oracle, **kw)
    check_every_pass = args.workload == "meter_ingest"

    all_ops = []
    cold = wl.run_pass(check=True)
    setup_s = time.time() - args.t0 - cold.check_s
    all_ops += cold.ops
    session_s = tracer.total("session.start")
    for _ in range(WARMUP_PASSES[args.workload]):
        all_ops += wl.run_pass(check=check_every_pass).ops

    tracer.spans.clear()
    tracer.counts.clear()
    timed, traced, untraced, ratios = [], [], [], []
    deadline = time.perf_counter() + args.seconds
    while time.perf_counter() < deadline or len(timed) < MIN_PASSES:
        tracer.enabled = bool(args.trace) and len(timed) % 2 == 0
        first = len(tracer.spans)
        p = wl.run_pass(check=check_every_pass)
        (traced if tracer.enabled else untraced).append((p.wall_s, first, len(tracer.spans)))
        timed.append(p)
        if getattr(wl, "stored_ratio", None) is not None:
            ratios.append(wl.stored_ratio)
    tracer.enabled = False
    if not check_every_pass:
        # the last timed pass ran on warm caches; its results are checked too
        timed[-1].check_s = wl.check_last_pass()
    all_ops += [op for p in timed for op in p.ops]
    print(
        f"perfbench: setup {setup_s:.1f}s, cold-pass checks {cold.check_s:.1f}s, "
        f"last-pass checks {timed[-1].check_s:.1f}s, "
        f"timed passes {[round(p.wall_s, 2) for p in timed]}, process ran {time.time() - args.t0:.1f}s",
        file=sys.stderr,
    )

    untraced_walls = [w for w, _a, _b in untraced]
    result = {
        "setup_s": setup_s,
        "pass_s": untraced_walls,
        "op_latency_s": [op.latency_s for p in timed for op in p.ops if op.sample and op.ok],
        "attempted": len(all_ops),
        "failed": sum(not op.ok for op in all_ops),
        "failures": [f"{op.name}: {op.error}" for op in all_ops if not op.ok],
        "stored_ratio": statistics.median(ratios) if ratios else None,
    }
    if args.trace:
        result["per_layer"] = per_layer(tracer, session_s, traced, untraced_walls)
        tracer.dump(os.path.join(args.work, "trace.json"))
    with open(args.out, "w") as f:
        json.dump(result, f)
    spark.stop()


if __name__ == "__main__":
    main()
