"""r10 scale probes (VERDICT r9 #4/#9): m10_touch_attribution and the
Arrow-kernel clustering family (l29/l63b/l28) at 1× vs 10× rows, with
wall + shuffle bytes + spill per run (the k46/c81-style evidence).

- m10: events ×10 two ways — `users` scaling (event_id AND user_id
  shifted per copy: 10× more users at the fixture's per-user density —
  the production growth axis; pair fan-out must scale linearly) and
  `density` scaling (user_id KEPT, event_id shifted: the same users get
  10× the events — the hostile axis; the per-user pairing is inherently
  quadratic in per-user touch rate inside the 7-day window, this records
  by how much and that it does not spill).
- l29/l63b/l28: embeddings ×10 (rolled copies, scale_probe's builder) —
  shows the mapInPandas/applyInPandas kernels stay input-linear and the
  codebook broadcast does not driver-bottleneck.

Writes SCALE_r10.json. Run on an otherwise idle box.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from pathlib import Path

REPO = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tools"))

from pyspark.sql import functions as F  # noqa: E402

from oeem_etl_spark import plans  # noqa: E402
from oeem_etl_spark.catalog import load_table  # noqa: E402
from oeem_etl_spark.plans import registry  # noqa: E402
from oeem_etl_spark.session import configure  # noqa: E402

import scale_probe  # noqa: E402  (tools/ on path)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
COPIES = 10
SCALE_DIR = scale_probe.SCALE_DIR  # /tmp/oeem_scale10
EV_USERS = f"/tmp/oeem_scale{COPIES}_events_users"
EV_DENSITY = f"/tmp/oeem_scale{COPIES}_events_density"

_METRIC_KEYS = ("shuffle_write", "shuffle_read", "mem_spill", "disk_spill")


def stage_metrics(ui: str) -> dict[int, dict]:
    apps = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications"))
    app_id = apps[0]["id"]
    stages = json.load(
        urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages")
    )
    return {
        s["stageId"]: {
            "shuffle_write": s.get("shuffleWriteBytes", 0),
            "shuffle_read": s.get("shuffleReadBytes", 0),
            "mem_spill": s.get("memoryBytesSpilled", 0),
            "disk_spill": s.get("diskBytesSpilled", 0),
        }
        for s in stages
        if s["status"] in ("COMPLETE", "FAILED")
    }


def _settled(ui: str, timeout_s: float = 15.0) -> dict[int, dict]:
    prev = stage_metrics(ui)
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        time.sleep(0.5)
        cur = stage_metrics(ui)
        if cur == prev:
            return cur
        prev = cur
    return prev


def run_probe(spark, ui: str, label: str, fn) -> dict:
    spark.sparkContext.setJobDescription(label)
    before = _settled(ui)
    t0 = time.perf_counter()
    rows = fn().count()
    sec = time.perf_counter() - t0
    after = _settled(ui)
    delta = {
        k: sum(
            max(after[sid][k] - before.get(sid, {}).get(k, 0), 0)
            for sid in after
        )
        for k in _METRIC_KEYS
    }
    spark.sparkContext.setJobDescription(None)
    return {"wall_s": round(sec, 3), "rows": rows, **delta}


def build_events(spark) -> None:
    ev = load_table(spark, SF_DIR, "events")
    if not os.path.isdir(EV_USERS):
        max_ev = ev.agg(F.max("event_id")).collect()[0][0] + 1
        max_u = ev.agg(F.max("user_id")).collect()[0][0] + 1
        parts = [
            ev.withColumn("event_id", F.col("event_id") + F.lit(i * max_ev))
            .withColumn("user_id", F.col("user_id") + F.lit(i * max_u))
            for i in range(COPIES)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{EV_USERS}/events.parquet")
    if not os.path.isdir(EV_DENSITY):
        max_ev = ev.agg(F.max("event_id")).collect()[0][0] + 1
        parts = [
            ev.withColumn("event_id", F.col("event_id") + F.lit(i * max_ev))
            for i in range(COPIES)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{EV_DENSITY}/events.parquet")


def main() -> None:
    plans.load_all()
    qs = registry.queries()
    # own session with the UI on — the REST store is the spill/bytes
    # witness (get_session ships ui.enabled=false)
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{os.cpu_count() or 8}]")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4048")
        .config("spark.driver.memory", "32g")
        .appName("scale-r10")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    configure(spark)
    # production regime: AQE on, default partitions (scale evidence, not
    # the local-latency bench regime)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    ui = spark.sparkContext.uiWebUrl
    scale_probe.build_scaled(spark)
    build_events(spark)

    out: dict[str, dict] = {}
    m10 = qs["m10_touch_attribution"]
    for label, d in [
        ("m10@1x", SF_DIR),
        ("m10@10x_users", EV_USERS),
        ("m10@10x_density", EV_DENSITY),
    ]:
        m10(spark, d).count()  # warm
        out[label] = run_probe(spark, ui, label, lambda d=d: m10(spark, d))
        print(label, out[label], flush=True)

    for name in ("l29_semantic_dedup", "l63b_pq_refined_topk", "l28_kmeans_assign"):
        if name not in qs:
            continue
        fn = qs[name]
        for label, d in [(f"{name}@1x", SF_DIR), (f"{name}@10x", SCALE_DIR)]:
            fn(spark, d).count()  # warm
            out[label] = run_probe(spark, ui, label, lambda d=d, fn=fn: fn(spark, d))
            print(label, out[label], flush=True)

    (REPO / "SCALE_r10.json").write_text(json.dumps(out, indent=1))
    print(json.dumps({"written": "SCALE_r10.json"}))


if __name__ == "__main__":
    main()
