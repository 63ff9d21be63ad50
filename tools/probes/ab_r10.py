"""Interleaved same-session A/B for the r10 batch-1 edits (box noise this
session swamps sequential before/after runs — same posture as r9's
MINHASH_AB/MICRO_AB probes).

Arms:
- l50/l52/l2 CC: driver union-find (new default) vs distributed hybrid
  (``driver_edge_limit=0``), by rebinding
  dedup.connected_components_hybrid around the registered query fns.
- h17/h18 fuzzy_join: the r10 operator (hashed variant key + banded
  levenshtein + equality short-circuit) vs the r9 form coded inline.
- l60: lateral-alias slice lengths (new) vs re-split lengths (old).

Interleaved rounds (old, new, old, new, ...), min + median per arm.
Writes artifacts/AB_R10_batch1.json.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from oeem_etl_spark import plans  # noqa: E402
import oeem_etl_spark.operators.dedup as dedup  # noqa: E402
from oeem_etl_spark.operators.text import deletion_variants  # noqa: E402
from oeem_etl_spark.plans import registry  # noqa: E402
from oeem_etl_spark.plans.util import T  # noqa: E402
from oeem_etl_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_ORIG_HYBRID = dedup.connected_components_hybrid


def _forced_distributed(pairs, **kw):
    kw["driver_edge_limit"] = 0
    return _ORIG_HYBRID(pairs, **kw)


def fuzzy_join_r9(left, right, left_col, right_col, max_dist=1):
    lv = left.withColumn("__v", F.explode(deletion_variants(left_col, max_dist)))
    rv = right.withColumn("__v", F.explode(deletion_variants(right_col, max_dist)))
    cand = lv.join(rv, "__v").drop("__v").distinct()
    return cand.withColumn(
        "dist", F.levenshtein(F.col(left_col), F.col(right_col))
    ).where(F.col("dist") <= max_dist)


def h17_r9(spark, sf_dir):
    c = T(spark, sf_dir, "customer").where(F.col("c_custkey") <= 1500)
    left = c.select(F.col("c_custkey").alias("a_id"), F.col("c_name").alias("a_name"))
    right = c.select(F.col("c_custkey").alias("b_id"), F.col("c_name").alias("b_name"))
    out = fuzzy_join_r9(left, right, "a_name", "b_name")
    return out.where(F.col("a_id") < F.col("b_id")).select(
        "a_id", "b_id", "a_name", "b_name", "dist"
    )


def main() -> None:
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    plans.load_all()
    qs = registry.queries()
    spark = get_session("ab-r10")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
    spark.conf.set("spark.sql.shuffle.partitions", "8")

    def cc_arms(qname):
        def old():
            dedup.connected_components_hybrid = _forced_distributed
            try:
                return qs[qname](spark, SF_DIR).count()
            finally:
                dedup.connected_components_hybrid = _ORIG_HYBRID

        def new():
            return qs[qname](spark, SF_DIR).count()

        return {"old": old, "new": new}

    pairs = {
        "l50_cc": cc_arms("l50_neardup_canonical"),
        "l52_cc": cc_arms("l52_dedup_aware_split"),
        "l2_cc": cc_arms("l2_minhash_lsh_dedup"),
        "h17_fuzzy": {
            "old": lambda: h17_r9(spark, SF_DIR).count(),
            "new": lambda: qs["h17_fuzzy_join"](spark, SF_DIR).count(),
        },
    }
    if only:
        pairs = {k: v for k, v in pairs.items() if k in only}

    sc = spark.sparkContext
    results = {}
    for name, arms in pairs.items():
        for arm, fn in arms.items():  # warm both
            sc.setJobDescription(f"{name}:{arm} warm")
            fn()
        times = {a: [] for a in arms}
        for i in range(rounds):
            for arm, fn in arms.items():
                sc.setJobDescription(f"{name}:{arm} {i}")
                t0 = time.perf_counter()
                fn()
                times[arm].append(time.perf_counter() - t0)
        results[name] = {
            arm: {
                "min": round(min(v), 4),
                "med": round(sorted(v)[len(v) // 2], 4),
                "all": [round(x, 4) for x in v],
            }
            for arm, v in times.items()
        }
        print(name, json.dumps(results[name]), flush=True)
    sc.setJobDescription(None)
    (REPO / "artifacts" / "AB_R10_batch1.json").write_text(
        json.dumps(results, indent=1)
    )


if __name__ == "__main__":
    main()
