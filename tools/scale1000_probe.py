"""Three-orders-of-magnitude probe: 1× (sf0.1) vs 1000× for the cheap
linear shapes — the strongest committed evidence that the core plan
shapes are scan/agg-bound, not state- or driver-bound.

The 1000× tables derive from the CACHED 100× set (tools/scale_probe.py's
/tmp/oeem_scale100) as a 10-way shifted union — NOT 1000 branches from
1×, which would blow up Catalyst analysis. Sizes: lineitem 600M rows,
documents 5M docs, embeddings 2M vectors (~14 GB total parquet).

Runs the production regime only (AQE on, 64 shuffle partitions): at
GB-scale inputs that is the configuration that matters; the fixed-8-task
local regime is probed at 1×/10×/100× already.

Usage: python tools/scale1000_probe.py --artifact SCALE1000_r06.json
(expects /tmp/oeem_scale100 to exist — run scale_probe.py at
SPARK_SCALE_COPIES=100 first).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from oeem_etl_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SRC100 = "/tmp/oeem_scale100"
DIR1000 = "/tmp/oeem_scale1000"
SHAPES = [
    "q01_agg",
    "exact_dedup",
    "minhash_sigs",
    "bpe_train",
    "srp_sketch",
    "srp_ann",
    "stream_drain",
]


def build_1000(spark) -> None:
    if os.path.isdir(f"{DIR1000}/embeddings.parquet"):
        return
    import shutil

    shutil.rmtree(DIR1000, ignore_errors=True)
    for table, key in (
        ("lineitem", "l_orderkey"),
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
    ):
        src = spark.read.parquet(f"{SRC100}/{table}.parquet")
        mx = src.agg(F.max(key)).collect()[0][0] + 1
        parts = [src.withColumn(key, F.col(key) + F.lit(i * mx)) for i in range(10)]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{DIR1000}/{table}.parquet")
        print(f"built {table} x1000", flush=True)


def main() -> None:
    import inspect

    artifact = None
    if "--artifact" in sys.argv:
        artifact = sys.argv[sys.argv.index("--artifact") + 1]
    spark = get_session("oeem-scale1000")
    build_1000(spark)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    spark.conf.set(
        "spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024)
    )

    from tools.scale_probe import shapes  # noqa: E402

    results = []
    for scale, sf_dir in (("1x", SF_DIR), ("1000x", DIR1000)):
        fns = shapes(spark, sf_dir)
        for name in SHAPES:
            fn = fns[name]
            takes_stats = bool(inspect.signature(fn).parameters)
            stats: dict = {}
            run = (lambda: fn(stats)) if takes_stats else fn
            n_rows = run().count()  # warm
            best = float("inf")
            for _ in range(2):
                stats.clear()
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                run().count()
                best = min(best, time.perf_counter() - t0)
            rec = {"shape": name, "scale": scale, "sec": round(best, 4),
                   "rows": n_rows, **stats}
            results.append(rec)
            print(json.dumps(rec), flush=True)

    if artifact:
        t = {}
        for r in results:
            t.setdefault(r["shape"], {})[r["scale"]] = r["sec"]
        summary = {
            s: round(v["1000x"] / v["1x"], 2)
            for s, v in t.items()
            if "1x" in v and "1000x" in v and v["1x"] > 0
        }
        Path(artifact).write_text(
            json.dumps(
                {
                    "copies": 1000,
                    "sf_dir": SF_DIR,
                    "regime": "aqe",
                    "best_time_ratio_1000x_over_1x": summary,
                    "runs": results,
                },
                indent=1,
            )
            + "\n"
        )
        print(f"artifact -> {artifact}")


if __name__ == "__main__":
    main()
