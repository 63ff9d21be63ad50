"""Skew probe: measure hot-key behavior of aggregation and joins at 60M rows.

Builds a skewed fact from the 100× scale dataset (`tools/scale_probe.py`
must have run with SPARK_SCALE_COPIES=100 first): 90% of 60M rows share
key 0, the rest spread over 1M keys; dimension = 1M keys. Measures:

1. plain vs salted AGGREGATION — expected ~equal: Spark's hash aggregate
   does map-side partial aggregation, so an algebraic agg (sum/count)
   collapses the hot key before the shuffle. Salting aggregations is only
   for non-collapsible aggs (collect_list) or extreme cardinality.
2. plain SMJ vs salted_join vs AQE-skew-join for a non-broadcastable
   equi-join — the real skew cliff: one reducer sorts the hot key's rows.

Measured 2026-08-13 (32-thread local JVM, results in BASELINE.md):
plain agg 0.56 s ≈ salted agg 0.60 s; SMJ 16.5 s, salted_join 8.3 s,
AQE skew-join 16.6 s (also with forceOptimizeSkewedJoin) — the AQE
splitter did not rescue this shape locally, the explicit salted_join did.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from oeem_etl_spark.operators.skew import salted_agg, salted_join
from oeem_etl_spark.session import get_session

SKEWED = "/tmp/oeem_skewed"
DIM = "/tmp/oeem_dim"


def build(spark) -> None:
    li = spark.read.parquet("/tmp/oeem_scale100/lineitem.parquet")
    skewed = li.select(
        F.when(
            F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(10)) < 9, F.lit(0)
        )
        .otherwise(F.pmod(F.xxhash64("l_linenumber", "l_orderkey"), F.lit(1_000_000)))
        .alias("k"),
        F.col("l_quantity").alias("v"),
    )
    skewed.write.mode("overwrite").parquet(SKEWED)
    spark.range(0, 1_000_001).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    ).write.mode("overwrite").parquet(DIM)


def main() -> None:
    spark = get_session("oeem-skew-probe")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    build(spark)
    sk = spark.read.parquet(SKEWED)
    dim = spark.read.parquet(DIM)

    def bench(name, fn):
        fn().count()
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            fn().count()
            best = min(best, time.perf_counter() - t0)
        print(json.dumps({"case": name, "sec": round(best, 4)}))

    def jagg(j):
        return j.agg(F.sum(F.col("v") * F.col("w")).alias("t"))

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    bench("agg_plain", lambda: sk.groupBy("k").agg(F.sum("v").alias("s")))
    bench(
        "agg_salted",
        lambda: salted_agg(
            sk, ["k"], [F.sum("v").alias("s")], [F.sum("s").alias("s")], n_salts=32
        ),
    )
    bench("join_smj_plain", lambda: jagg(sk.join(dim, "k")))
    bench("join_salted", lambda: jagg(salted_join(sk, dim, ["k"], n_salts=32)))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    bench("join_smj_aqe_skew", lambda: jagg(sk.join(dim, "k")))


if __name__ == "__main__":
    main()
