"""Shuffle-bytes / spill probe for the row-scale-shuffle shapes
(VERDICT r6 task #6): dense_ids (100×: 7.4×) and substring_spans
(100×: 7.58×) are sub-linear in TIME, but both materialize shuffles
proportional to row count — this probe records what those shuffles
actually COST in bytes (shuffle write/read, memory/disk spill) at 1×
and 100×, via Spark's own stage metrics (REST API of the local UI), so
the 100 TB claim for these two shapes rests on measured exchange
volume, not wall-clock alone.

What the numbers mean at 100 TB: shuffle bytes scaling ~linearly with
rows at a per-row cost of a few dozen bytes is the designed behavior —
both shapes shuffle fixed-width keys/ids (never text); the claim being
checked is that per-row shuffle cost does NOT grow with scale and that
local-mode execution doesn't spill (executors sized like ours wouldn't
spill at the same per-task volume either).

Usage: python tools/mem_probe.py --artifact MEM_r07.json
(expects /tmp/oeem_scale100 — run scale_probe.py at
SPARK_SCALE_COPIES=100 first).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DIR100 = "/tmp/oeem_scale100"
DIR10 = "/tmp/oeem_scale10"


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


_METRIC_KEYS = ("shuffle_write", "shuffle_read", "mem_spill", "disk_spill")


def _settled_metrics(ui: str, timeout_s: float = 15.0) -> dict[int, dict]:
    """Poll the REST store until two consecutive snapshots agree (stage
    COUNT and metric VALUES) — the async store can lag the job end, and a
    fixed 1 s sleep silently undercounted late-settling stages."""
    prev = stage_metrics(ui)
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        time.sleep(0.5)
        cur = stage_metrics(ui)
        if cur == prev:
            return cur
        prev = cur
    return prev


def run_probe(spark, ui: str, fn) -> dict:
    before = _settled_metrics(ui)
    t0 = time.perf_counter()
    rows = fn().count()
    sec = time.perf_counter() - t0
    after = _settled_metrics(ui)
    # Diff per-stage metric VALUES, not new-stage-ids-only (ADVICE r7 #4):
    # resubmitted/reused stage ids (same stageId re-attempted, or a
    # skipped-then-materialized exchange) carry metric DELTAS under an id
    # present in 'before' and were previously dropped. max(after-before, 0)
    # guards the store evicting/resetting an old stage between snapshots.
    delta = {
        k: sum(
            max(v[k] - before.get(sid, {}).get(k, 0), 0)
            for sid, v in after.items()
        )
        for k in _METRIC_KEYS
    }
    return {"rows": rows, "sec": round(sec, 2), **delta}


def main() -> None:
    artifact = None
    if "--artifact" in sys.argv:
        artifact = sys.argv[sys.argv.index("--artifact") + 1]

    spark = (
        SparkSession.builder.master(f"local[{os.cpu_count() or 8}]")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4049")
        .config("spark.driver.memory", "32g")
        .appName("oeem-mem-probe")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from oeem_etl_spark.session import configure

    configure(spark)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    spark.conf.set(
        "spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024)
    )
    ui = spark.sparkContext.uiWebUrl

    from oeem_etl_spark.operators.dedup import duplicate_window_spans
    from oeem_etl_spark.operators.ids import dense_ids

    def dense_ids_shape(sf_dir):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            F.concat_ws("|", "l_orderkey", "l_linenumber").alias("k")
        )
        return dense_ids(li, "k", buckets=64)

    def _copy_renamed_docs(sf_dir):
        # scale_probe's convention: per-copy token renaming keeps
        # duplication copy-local, so span volume scales with rows, not
        # copies² (the production analogue: a 100× corpus has 100× the
        # duplicated regions, not cross-shard collisions of one region).
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        copy = F.floor(F.col("doc_id") / F.lit(5000)).cast("string")
        return docs.select(
            "doc_id",
            F.array_join(
                F.transform(
                    F.split(F.col("text"), " "),
                    lambda t: F.concat(F.lit("c"), copy, F.lit("_"), t),
                ),
                " ",
            ).alias("text"),
        )

    def substring_spans_shape(sf_dir):
        return duplicate_window_spans(
            _copy_renamed_docs(sf_dir), "doc_id", "text", window=20
        )

    # Pair-family shapes (VERDICT r7 task #6): the worst wall-clock 10×
    # ratios in the repo (jacc_prefix_cc 4.64× pure / 3.86× hybrid,
    # semantic-dedup's within-cluster pair stage). Both are bounded-by-
    # design pair stages; this records the bytes/spill witness at 1×/10×
    # so the "bounded pair stage" claim carries the same evidence grade
    # as dense_ids/substring_spans. (10×, not 100×: qualifying pairs are
    # copy-local by the token/embedding renaming, and the 100× corpus
    # puts the quadratic-in-cluster verify stage out of local-mode reach
    # — the per-pair-bytes flatness is the claim, visible at 10×.)
    def jacc_prefix_cc_shape(sf_dir):
        from oeem_etl_spark.operators.dedup import (
            connected_components,
            prefix_filter_jaccard_join,
        )

        renamed = _copy_renamed_docs(sf_dir).select("doc_id", "text")
        pairs = prefix_filter_jaccard_join(renamed, "doc_id", "text", 0.5)
        labels = connected_components(pairs.select("key_a", "key_b"))
        return renamed.join(
            labels.withColumnRenamed("node", "doc_id"), ["doc_id"], "left"
        ).select(
            "doc_id", F.coalesce("label", F.col("doc_id")).alias("canonical")
        )

    def semantic_dedup_shape(sf_dir):
        # k ∝ N keeps expected cluster size constant (the l29 scale
        # contract): 8 at 1×, 80 at 10×.
        from oeem_etl_spark.operators.clustering import semantic_dedup_pairs

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        k = 8 if sf_dir == SF_DIR else 80
        return semantic_dedup_pairs(
            emb, "vec_id", "embedding", k=k, iters=2, threshold=0.35
        )

    def c81_chain_shape(sf_dir):
        # the breadth8 combo CHAIN (VERDICT r8 task #6): window ->
        # interval-overlap -> as-of -> full-outer reconcile -> join-back.
        # Shuffles: two windows + the reconcile join, all keyed on
        # rows-linear keys; the campaign dims broadcast. The witness is
        # flat per-row reconcile bytes and zero spill at 10×.
        from pyspark.sql import Window

        from oeem_etl_spark.operators.relational import (
            asof_align_broadcast,
            interval_overlap_join,
        )

        camps = [
            (1, "1996-01-01", "1996-07-01"),
            (2, "1997-01-01", "1998-01-01"),
            (3, "1999-06-01", "2000-01-01"),
            (4, "2000-06-01", "2002-01-01"),
        ]
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_custkey", "o_orderdate"
        )
        wf = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        o = o.select(
            "o_orderkey",
            "o_custkey",
            "o_orderdate",
            F.first("o_orderdate").over(
                wf.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).alias("cohort_start"),
            F.coalesce(
                F.lead("o_orderdate").over(wf),
                F.lit("2002-01-01").cast("timestamp"),
            ).alias("next_date"),
        )
        camp = spark.createDataFrame(
            camps, "campaign_id int, c_start string, c_end string"
        ).select(
            "campaign_id",
            F.col("c_start").cast("timestamp").alias("c_start"),
            F.col("c_end").cast("timestamp").alias("c_end"),
        )
        ov = interval_overlap_join(
            o.select("o_orderkey", "o_orderdate", "next_date"),
            camp, "o_orderdate", "next_date", "c_start", "c_end",
        ).select("o_orderkey", "campaign_id")
        asf = asof_align_broadcast(
            o.select("o_orderkey", "o_orderdate"),
            camp.select("c_start", "campaign_id"),
            left_ts="o_orderdate", right_ts="c_start",
            value_cols=["campaign_id"],
        ).select(
            "o_orderkey",
            F.coalesce("campaign_id", F.lit(0)).alias("campaign_id"),
        )
        a = ov.withColumn("in_overlap", F.lit(1)).alias("a")
        b = asf.withColumn("in_asof", F.lit(1)).alias("b")
        rec = a.join(
            b,
            (F.col("a.o_orderkey") == F.col("b.o_orderkey"))
            & (F.col("a.campaign_id") == F.col("b.campaign_id")),
            "full_outer",
        ).select(
            F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey")).alias(
                "o_orderkey"
            ),
            F.coalesce(F.col("a.campaign_id"), F.col("b.campaign_id")).alias(
                "campaign_id"
            ),
            F.coalesce(F.col("a.in_overlap"), F.lit(0)).alias("in_overlap"),
            F.coalesce(F.col("b.in_asof"), F.lit(0)).alias("in_asof"),
        )
        return (
            rec.join(o.select("o_orderkey", "o_orderdate", "cohort_start"),
                     "o_orderkey")
            .groupBy("campaign_id", "in_overlap", "in_asof")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(
                    F.when(
                        F.col("o_orderdate") == F.col("cohort_start"), 1
                    ).otherwise(0)
                ).alias("n_first"),
            )
        )


    def k46_chain_shape(sf_dir):
        # the r9 co-partitioned meter chain at bytes level: the leading
        # repartition(user-key) is the ONLY hash exchange; the witness is
        # input-linear shuffle write and zero spill while the gap-fill
        # grid multiplies OUTPUT rows ~19x past the input.
        from pyspark.sql import Window

        from oeem_etl_spark.operators.timeseries import (
            fill_gaps,
            resample_interval,
        )

        base_max = (
            spark.read.parquet(f"{SF_DIR}/orders.parquet")
            .agg(F.max("o_orderkey"))
            .first()[0]
            + 1
        )
        o = (
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .select(
                (
                    (F.col("o_orderkey") / F.lit(base_max)).cast("long")
                    * 200_000
                    + F.col("o_custkey")
                ).alias("o_custkey"),
                "o_orderdate",
                F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
                "o_orderkey",
            )
            .repartition("o_custkey")
        )
        w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
            F.col("o_orderkey").desc()
        )
        dd = (
            o.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn", "o_orderkey")
        )
        daily = resample_interval(
            dd, keys=["o_custkey"], ts="o_orderdate", freq="day",
            aggs=[F.count(F.lit(1)).alias("n"), F.sum("cents").alias("c")],
        )
        return fill_gaps(
            daily, keys=["o_custkey"], bucket="bucket", value="c", freq="day"
        )

    shapes = {
        "dense_ids": (dense_ids_shape, [("1x", SF_DIR), ("100x", DIR100)]),
        "substring_spans": (
            substring_spans_shape,
            [("1x", SF_DIR), ("100x", DIR100)],
        ),
        "jacc_prefix_cc": (jacc_prefix_cc_shape, [("1x", SF_DIR), ("10x", DIR10)]),
        "semantic_dedup": (semantic_dedup_shape, [("1x", SF_DIR), ("10x", DIR10)]),
        "c81_chain": (c81_chain_shape, [("1x", SF_DIR), ("10x", DIR10)]),
        "k46_chain": (k46_chain_shape, [("1x", SF_DIR), ("10x", DIR10)]),
    }
    only = None
    if "--only" in sys.argv:
        only = set(sys.argv[sys.argv.index("--only") + 1].split(","))
    results = []
    for name, (fn, scales) in shapes.items():
        if only and name not in only:
            continue
        for scale, sf_dir in scales:
            if not os.path.isdir(sf_dir):
                print(f"skip {name}@{scale}: {sf_dir} missing", flush=True)
                continue
            spark.catalog.clearCache()
            rec = run_probe(spark, ui, lambda: fn(sf_dir))
            rec.update({"shape": name, "scale": scale})
            rec["shuffle_write_per_row"] = (
                round(rec["shuffle_write"] / rec["rows"], 1) if rec["rows"] else None
            )
            results.append(rec)
            print(json.dumps(rec), flush=True)

    if artifact:
        summary = {}
        for name, (fn, scales) in shapes.items():
            recs = [r for r in results if r["shape"] == name]
            if len(recs) < 2:
                continue
            r1, rn = recs[0], recs[-1]
            summary[name] = {
                f"bytes_ratio_{rn['scale']}": (
                    round(rn["shuffle_write"] / r1["shuffle_write"], 1)
                    if r1["shuffle_write"]
                    else None
                ),
                f"spill_{rn['scale']}": rn["mem_spill"] + rn["disk_spill"],
            }
        Path(artifact).write_text(
            json.dumps({"results": results, "summary": summary}, indent=1) + "\n"
        )
        print(f"wrote {artifact}")


if __name__ == "__main__":
    main()
