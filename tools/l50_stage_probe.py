"""Stage attribution for l50_neardup_canonical (optimization guide §1):
time each stage of the chain in isolation under the bench confs so the
next optimization targets the actual cost center, not a guess.

Stages: shingle sets -> postings -> freq -> prefix -> candidate pairs ->
verified pairs -> connected components -> election (full query).

Usage: python tools/l50_stage_probe.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from oeem_etl_spark import plans  # noqa: E402
from oeem_etl_spark.plans import registry  # noqa: E402
from oeem_etl_spark.session import get_session  # noqa: E402
from oeem_etl_spark.operators import dedup  # noqa: E402
from oeem_etl_spark.catalog import load_table  # noqa: E402


def timed(spark, label, thunk, n=3):
    spark.sparkContext.setJobDescription(f"l50 probe: {label}")
    thunk()  # warm
    best = float("inf")
    for _ in range(n):
        t0 = time.perf_counter()
        thunk()
        best = min(best, time.perf_counter() - t0)
    print(f"{label:34s} {best:7.3f} s")
    return round(best, 4)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    plans.load_all()
    qs = registry.queries()
    spark = get_session("l50-stage-probe")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
    spark.conf.set("spark.sql.shuffle.partitions", "8")

    docs = load_table(spark, sf_dir, "documents")
    out: dict[str, float] = {}

    # Stage pieces mirror prefix_filter_jaccard_join's internals.
    def sets_df():
        return docs.select(
            F.col("doc_id").alias("__k"),
            F.array_distinct(
                dedup.shingles_from_tokens(F.split(F.col("text"), " "), 3)
            ).alias("__set"),
        )

    out["sets_noop"] = timed(
        spark, "shingle sets (noop)",
        lambda: sets_df().write.format("noop").mode("overwrite").save(),
    )
    out["postings_noop"] = timed(
        spark, "postings explode (noop)",
        lambda: sets_df()
        .select("__k", F.size("__set").alias("__s"), F.explode("__set").alias("__tok"))
        .write.format("noop").mode("overwrite").save(),
    )

    def pairs_df():
        return dedup.prefix_filter_jaccard_join(docs, "doc_id", "text", 0.5)

    out["pairs_count"] = timed(spark, "verified pairs (count)", lambda: pairs_df().count())

    # CC over materialized edges (isolates iteration cost from pair cost)
    edges = pairs_df().select("key_a", "key_b").localCheckpoint(eager=True)
    out["cc_on_edges"] = timed(
        spark, "connected_components_hybrid",
        lambda: dedup.connected_components_hybrid(edges).count(),
    )
    out["full_query_count"] = timed(
        spark, "full l50 (count)",
        lambda: qs["l50_neardup_canonical"](spark, sf_dir).count(),
    )
    # how many pairs/edges are there, for context
    out["n_pairs"] = pairs_df().count()
    print(json.dumps(out))
    art = REPO / "artifacts" / "L50_STAGES_r09.json"
    art.write_text(json.dumps({"sf_dir": sf_dir, "stages": out}, indent=1))


if __name__ == "__main__":
    main()
