"""Runtime bloom-filter join-pruning probe.

Spark's InjectRuntimeFilter rule (on by default,
``spark.sql.optimizer.runtime.bloomFilter.enabled``) builds a bloom filter
over the join keys of a SELECTIVE build side and pushes
``might_contain(xxhash64(key))`` into the probe side's scan filter — rows
that cannot join die before the shuffle. At 100 TB this is the difference
between shuffling the whole fact table and shuffling only the ~matching
fraction, for joins where the dimension filter is selective but not
broadcastable.

At fixture scale the rule's size thresholds (creation side ≤ 10MB,
application side scan ≥ 10GB by default) suppress it, so this probe lowers
``applicationSideScanSizeThreshold`` to make the optimizer treat sf0.1's
lineitem as "big", forces the join to sort-merge (broadcast joins don't
need runtime filters), and measures the selective orders⋈lineitem join
with the rule on vs off. It asserts the ``might_contain`` filter actually
appears in the pushed plan — evidence the engine's plans pick up runtime
filtering on a real cluster without any code change here.

Run manually: ``python tools/bloom_probe.py``. Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import SparkSession, functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def session(bloom: bool) -> SparkSession:
    b = (
        SparkSession.builder.master(f"local[{len(os.sched_getaffinity(0))}]")
        .appName(f"bloom-probe-{bloom}")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", str(bloom).lower())
        # treat the fixture fact as "big" so the rule engages like at scale
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "1KB",
        )
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    )
    return b.getOrCreate()


def probe(spark: SparkSession) -> tuple[float, bool]:
    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    orders = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet")).where(
        F.col("o_totalprice") > 400000  # selective: keeps ~2% of orders
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    injected = "might_contain" in j._jdf.queryExecution().optimizedPlan().toString()
    j.collect()  # warm
    t0 = time.perf_counter()
    j.collect()
    return round(time.perf_counter() - t0, 4), injected


def main() -> None:
    results = {}
    for bloom in (False, True):
        spark = session(bloom)
        secs, injected = probe(spark)
        results["bloom_on" if bloom else "bloom_off"] = secs
        if bloom:
            assert injected, "runtime bloom filter did not inject — check confs"
        else:
            assert not injected
        spark.stop()
    print(
        json.dumps(
            {
                "metric": "selective_smj_join_warm",
                "sf_dir": SF_DIR,
                **results,
                "note": "might_contain(xxhash64(l_orderkey)) pushed into the "
                "lineitem scan filter when on; join forced SMJ; thresholds "
                "lowered to emulate at-scale sizes",
            }
        )
    )


if __name__ == "__main__":
    main()
