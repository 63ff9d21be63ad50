"""Sixth-face COMBO queries (round 7).

The r7 rotation left five ALREADY-driver-checked combos in the 50-prefix
(a45 / k37 / j41 / m17b / m6) because their tag bundles — the fetch+
upload ingest loop, the meter resample/gapfill chain, the three pandas
UDF contracts, the upsert/rank/anti cluster, and bloom+cube+grouped-map
— had no remaining never-checked provider that packs into 50 slots.
Each query here is a NEW single coherent pipeline over one of those
exact bundles (the combo discipline the r6 verdict endorsed), so the
prefix goes back to all-fresh and the r8 rotation inherits a reserve.
Same oracle discipline as the rest of the registry; all value math is
exact (integer micros / counts / ordinals)."""

from __future__ import annotations

import os
import tempfile

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from oeem_etl_spark.catalog import local_frame
from oeem_etl_spark.plans.registry import query
from oeem_etl_spark.plans.util import T

_TMP = os.path.join(
    tempfile.gettempdir(), f"oeem_etl_spark_breadth6_{os.getpid()}"
)

_CAST_TS = "CAST(ts AS TIMESTAMP)"


# ---------------------------------------------------------------------------
# a54: A2/A7 csv scan+sink + A11 fetch tier + A12 bulk upload + B1/B5/B3
# ---------------------------------------------------------------------------


@query(
    "a54_fetch_events_csv_roundtrip",
    sql="""
    SELECT event_type AS kind,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT)
             AS total_micros
    FROM events
    WHERE event_id <= 4000 AND user_id <= 400
    GROUP BY event_type
    """,
    tier="T2",
    survey="A11,A12,A2,A7,B1,B5,B3",
)
def a54_fetch_events_csv_roundtrip(spark, sf_dir):
    """The ingest loop over the EVENTS feed (a45 walks it with documents):
    an events extract lands as headered CSV shards (A7), a flaky
    transport fetches them to the landing zone with one forced retry
    (A11), the parse stage reads them back all-string (A2), renames
    value→reading (B1), casts to double (B5) and filters to the audited
    user range (B3); the per-type rollup then rides the flaky chunked
    datastore upload (A12) and the RESULT IS READ BACK FROM THE
    DATASTORE — so the oracle certifies the full write→fetch→parse→
    upload→readback cycle, double round-trip included (Java's
    shortest-repr double formatting reparses exactly)."""
    import functools
    import shutil

    from oeem_etl_spark.sources import fetch as fx
    from oeem_etl_spark.sources import upload as up

    root = os.path.join(_TMP, f"a54_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(root, ignore_errors=True)
    remote = os.path.join(root, "remote")
    fstate = os.path.join(root, "fstate")
    ustate = os.path.join(root, "ustate")
    landing = os.path.join(root, "landing")
    dsroot = os.path.join(root, "ds")
    for d in (remote, fstate, ustate):
        os.makedirs(d, exist_ok=True)

    ev = (
        T(spark, sf_dir, "events")
        .where(F.col("event_id") <= 4000)
        .select("event_type", "user_id", "value")
    )
    ev.repartition(3).write.mode("overwrite").option("header", True).csv(remote)
    shards = sorted(
        f
        for f in os.listdir(remote)
        if f.endswith(".csv") and not f.startswith(("_", "."))
    )
    tasks = local_frame(
        spark,
        [(s, s) for s in shards], "task_id string, uri string"
    )
    ffactory = functools.partial(
        fx.local_flaky_fetcher, remote=remote, fail_times=1, state_dir=fstate
    )
    fx.check_fetched(fx.fetch_to_landing(tasks, ffactory, landing))

    raw = spark.read.option("header", True).schema(
        "event_type string, user_id string, value string"
    ).csv(landing)
    clean = (
        raw.withColumnRenamed("value", "reading")
        .withColumn("reading", F.col("reading").cast("double"))
        .withColumn("user_id", F.col("user_id").cast("long"))
        .where(F.col("user_id") <= 400)
    )
    agg = clean.groupBy(F.col("event_type").alias("kind")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("reading") * 1_000_000).cast("long")).alias(
            "total_micros"
        ),
    )
    ufactory = functools.partial(
        up.local_flaky_datastore, root=dsroot, fail_times=1, state_dir=ustate
    )
    up.bulk_upload(
        agg.withColumn("seq", F.lit(1)),
        ufactory,
        epoch_id=0,
        batch_size=2,
        max_attempts=4,
    )
    state = up.FilesystemDatastore(dsroot).state("kind", "seq")
    rows = [
        (str(v["kind"]), int(v["n_events"]), int(v["total_micros"]))
        for v in state.values()
    ]
    return local_frame(
        spark,
        rows, "kind string, n_events bigint, total_micros bigint"
    )


# ---------------------------------------------------------------------------
# k122: K5 dedupe + D12 keep-latest + K3 weekly resample + K4 gapfill +
#       K-ext gap-streak audit
# ---------------------------------------------------------------------------


@query(
    "k122_weekly_gapfill_audit",
    sql=f"""
    WITH raw AS (
      SELECT event_id, user_id, {_CAST_TS} AS ts, value FROM events
      UNION ALL
      SELECT event_id + 20000000, user_id, {_CAST_TS}, value + 5.0
      FROM events WHERE event_id <= 300
    ), latest AS (
      SELECT user_id, ts, arg_max(value, event_id) AS value
      FROM raw WHERE user_id <= 200 GROUP BY user_id, ts
    ), weekly AS (
      SELECT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk,
             SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS v_fp
      FROM latest GROUP BY user_id, wk
    ), spans AS (
      SELECT user_id, min(wk) AS min_w, max(wk) AS max_w
      FROM weekly GROUP BY user_id
    ), grid AS (
      SELECT user_id,
             unnest(generate_series(min_w, max_w, INTERVAL 7 DAY)) AS wk
      FROM spans
    ), j AS (
      SELECT g.user_id, g.wk, w.v_fp,
             CAST(w.v_fp IS NULL AS INT) AS is_gap
      FROM grid g LEFT JOIN weekly w USING (user_id, wk)
    ), ff AS (
      SELECT user_id, wk, is_gap,
             last_value(v_fp IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY wk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ff,
             SUM(CASE WHEN is_gap = 0 THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY wk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_grp
      FROM j
    ), runs AS (
      SELECT user_id, run_grp, COUNT(*) FILTER (WHERE is_gap = 1) AS gap_run
      FROM ff GROUP BY user_id, run_grp
    )
    SELECT f.user_id,
           COUNT(*) AS n_weeks,
           CAST(SUM(f.is_gap) AS BIGINT) AS n_gap_weeks,
           CAST(SUM(f.v_ff) AS BIGINT) AS ffill_total_micros,
           CAST((SELECT MAX(gap_run) FROM runs r WHERE r.user_id = f.user_id)
                AS BIGINT) AS max_gap_run
    FROM ff f GROUP BY f.user_id
    ORDER BY f.user_id
    """,
    tier="T2",
    survey="K5,K3,K4,K-ext,D12,E3",
)
def k122_weekly_gapfill_audit(spark, sf_dir):
    """The meter chain at WEEKLY grain with a data-quality audit (k37 is
    the daily/interpolating/monthly face): doctored +5.0 re-issues of
    the first 300 reads lose to arg_max keep-latest (K5/D12), weekly
    resample (K3), dense Monday grid per user, FORWARD-fill only (K4 —
    last observation carried forward, no interpolation), and the K-ext
    audit: gap-week count and the longest consecutive gap run per user,
    computed by the run-group trick (non-gap rows open a new group; gap
    rows count within their group). All sums are integer micros."""
    from oeem_etl_spark.operators.relational import dedupe_keep_latest_by

    ev = T(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    corrections = ev.where(F.col("event_id") <= 300).select(
        (F.col("event_id") + 20_000_000).alias("event_id"),
        "user_id",
        "ts",
        (F.col("value") + F.lit(5.0)).alias("value"),
    )
    raw = ev.unionByName(corrections).where(F.col("user_id") <= 200)
    latest = dedupe_keep_latest_by(raw, ["user_id", "ts"], ["event_id"])
    weekly = latest.groupBy(
        "user_id",
        F.date_trunc("week", F.col("ts")).cast("timestamp_ntz").alias("wk"),
    ).agg(
        F.sum(F.round(F.col("value") * 1_000_000).cast("long")).alias("v_fp")
    )
    spans = weekly.groupBy("user_id").agg(
        F.min("wk").alias("min_w"), F.max("wk").alias("max_w")
    )
    grid = spans.select(
        "user_id",
        F.explode(
            F.sequence("min_w", "max_w", F.expr("interval 7 days"))
        ).alias("wk"),
    )
    j = grid.join(weekly, ["user_id", "wk"], "left").select(
        "user_id",
        "wk",
        "v_fp",
        F.col("v_fp").isNull().cast("int").alias("is_gap"),
    )
    w = Window.partitionBy("user_id").orderBy("wk").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ff = j.select(
        "user_id",
        "wk",
        "is_gap",
        F.last("v_fp", ignorenulls=True).over(w).alias("v_ff"),
        F.sum(F.when(F.col("is_gap") == 0, 1).otherwise(0))
        .over(w)
        .alias("run_grp"),
    )
    runs = ff.groupBy("user_id", "run_grp").agg(
        F.sum("is_gap").alias("gap_run")
    )
    max_run = runs.groupBy("user_id").agg(
        F.max("gap_run").cast("long").alias("max_gap_run")
    )
    per_user = ff.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_weeks"),
        F.sum("is_gap").cast("long").alias("n_gap_weeks"),
        F.sum("v_ff").cast("long").alias("ffill_total_micros"),
    )
    return per_user.join(max_run, "user_id").orderBy("user_id")


# ---------------------------------------------------------------------------
# j50: J1 scalar UDF (via J7 SQL registration) + J2 pandas UDF + J5 UDAF
# ---------------------------------------------------------------------------


@query(
    "j50_udf_quartet",
    sql="""
    WITH scored AS (
      SELECT p_brand, len(string_split(p_name, ' ')) AS wc,
             length(p_name) - length(replace(p_name, 'a', '')) AS n_a
      FROM part WHERE p_partkey <= 800
    )
    SELECT p_brand, COUNT(*) AS n,
           CAST(SUM(wc * wc) AS BIGINT) AS sum_sq_wc,
           CAST(SUM(n_a) AS BIGINT) AS total_a
    FROM scored GROUP BY p_brand
    """,
    tier="T3",
    survey="J1,J2,J5,J7",
)
def j50_udf_quartet(spark, sf_dir):
    """The three pandas/Python UDF contracts over the PART dimension (j41
    walks them over documents): a SQL-registered scalar Python UDF counts
    words in p_name (J1 through the J7 entry point), an Arrow-batched
    pandas UDF counts 'a' characters (J2), and a grouped-agg pandas UDF
    reduces the word counts to an exact int64 sum of squares per brand
    (J5 — integer, so no accumulation-order noise). Everything around
    the three Python taxes stays JVM."""
    from pyspark.sql.functions import pandas_udf

    def word_count(s):
        return len((s or "").split(" "))

    spark.udf.register("oeem_j50_wc", word_count, "long")

    @pandas_udf("long")
    def a_count(s):  # bare signature, see j32 note on future-annotations
        return s.str.count("a").astype("int64")

    @pandas_udf("long")
    def sum_sq(v: pd.Series) -> int:  # grouped-agg, from the hints
        import numpy as np

        a = v.to_numpy(dtype="int64")
        return int(np.dot(a, a))

    parts = (
        T(spark, sf_dir, "part")
        .where(F.col("p_partkey") <= 800)
        .select("p_partkey", "p_brand", "p_name")
    )
    parts.createOrReplaceTempView("j50_parts")
    scored = spark.sql(
        "SELECT p_brand, p_name, oeem_j50_wc(p_name) AS wc FROM j50_parts"
    ).withColumn("n_a", a_count("p_name"))
    plain = scored.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_a").cast("long").alias("total_a"),
    )
    # grouped-agg pandas UDFs cannot share an agg() with JVM aggregates
    # (INVALID_PANDAS_UDF_PLACEMENT) — own aggregation, broadcast back
    udaf = scored.groupBy("p_brand").agg(sum_sq("wc").alias("sum_sq_wc"))
    return plain.join(F.broadcast(udaf), "p_brand").select(
        "p_brand", "n", "sum_sq_wc", "total_a"
    )


# ---------------------------------------------------------------------------
# m30: K6 merge upsert + C4 anti blocklist + E1 rank
# ---------------------------------------------------------------------------


@query(
    "m30_upsert_rank_blocklist",
    sql="""
    WITH target AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      WHERE o_orderkey <= 30000 AND o_custkey <= 800
    ), delta AS (
      SELECT o_orderkey, o_custkey, o_totalprice + 1000.0 AS o_totalprice
      FROM orders WHERE o_orderkey <= 2000 AND o_custkey <= 800
    ), merged AS (
      SELECT * FROM target WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta)
      UNION ALL SELECT * FROM delta
    ), blocked AS (
      SELECT c_custkey FROM customer WHERE c_acctbal < 0
    ), clean AS (
      SELECT * FROM merged
      WHERE o_custkey NOT IN (SELECT c_custkey FROM blocked)
    )
    SELECT o_custkey, rn, o_orderkey,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM clean
    ) WHERE rn <= 2
    ORDER BY o_custkey, rn
    """,
    tier="T2",
    survey="K6,C4,E1,F3",
)
def m30_upsert_rank_blocklist(spark, sf_dir):
    """Corrections-then-rank (m17b is the id-upsert face of this bundle):
    a repriced delta batch (+1000.00, exact in doubles) replaces matching
    orders via merge_upsert with the delta broadcast (K6 — the target
    never shuffles for the anti), customers with negative balance are
    anti-joined out as a broadcast blocklist (C4), and each surviving
    customer keeps their top-2 orders by repriced total (E1/F3 rank,
    orderkey tiebreak). Prices leave as exact integer cents."""
    from oeem_etl_spark.operators.relational import merge_upsert

    orders = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    target = orders.where(
        (F.col("o_orderkey") <= 30000) & (F.col("o_custkey") <= 800)
    )
    delta = orders.where(
        (F.col("o_orderkey") <= 2000) & (F.col("o_custkey") <= 800)
    ).withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1000.0))
    merged = merge_upsert(target, delta, ["o_orderkey"], broadcast_delta=True)
    blocked = (
        T(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") < 0)
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    clean = merged.join(F.broadcast(blocked), "o_custkey", "left_anti")
    rn = F.row_number().over(
        Window.partitionBy("o_custkey").orderBy(
            F.col("o_totalprice").desc(), "o_orderkey"
        )
    )
    return (
        clean.withColumn("rn", rn)
        .where(F.col("rn") <= 2)
        .select(
            "o_custkey",
            "rn",
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias(
                "price_cents"
            ),
        )
        .orderBy("o_custkey", "rn")
    )


# ---------------------------------------------------------------------------
# m31: C11 bloom-pruned join + J3 grouped map + D9 cube
# ---------------------------------------------------------------------------


@query(
    "m31_bloom_cube_rankmap",
    sql="""
    WITH pruned AS (
      SELECT l.l_partkey, l.l_returnflag, l.l_linestatus,
             l.l_extendedprice, l.l_orderkey, l.l_linenumber
      FROM lineitem l
      JOIN (SELECT p_partkey FROM part WHERE p_size <= 10) p
        ON l.l_partkey = p.p_partkey
    ), seqd AS (
      SELECT l_returnflag, l_linestatus,
             row_number() OVER (
               PARTITION BY l_partkey
               ORDER BY l_extendedprice, l_orderkey, l_linenumber) - 1 AS seq
      FROM pruned
    )
    SELECT l_returnflag, l_linestatus,
           CAST(2 * GROUPING(l_returnflag) + GROUPING(l_linestatus) AS INT)
             AS gid,
           COUNT(*) AS n_lines,
           CAST(SUM(seq) AS BIGINT) AS seq_total
    FROM seqd
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tier="T2",
    survey="C11,J3,D9",
)
def m31_bloom_cube_rankmap(spark, sf_dir):
    """Bloom + grouped-map + CUBE (m6 is the rollup/rebase face): small
    parts (size<=10) hash into a Bloom bitmap pruning the lineitem scan
    before the join's exchange (C11); an applyInPandas grouped map
    assigns each surviving row its 0-based ordinal within its part by
    (price, orderkey, linenumber) — an exact integer the oracle
    reproduces as row_number()-1 (J3); the CUBE over (returnflag,
    linestatus) aggregates counts and ordinal totals with grouping-id
    disambiguation (D9 — all four grouping sets, not just the rollup
    chain)."""
    import pandas as pd

    from oeem_etl_spark.operators.pruning import bloom_pruned_join

    dim = (
        T(spark, sf_dir, "part")
        .where(F.col("p_size") <= 10)
        .select(F.col("p_partkey").alias("l_partkey"))
    )
    fact = T(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_returnflag",
        "l_linestatus",
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
    )
    joined = bloom_pruned_join(fact, F.broadcast(dim), on="l_partkey")

    def ordinal(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["l_extendedprice", "l_orderkey", "l_linenumber"]
        ).reset_index(drop=True)
        pdf["seq"] = pdf.index.astype("int64")
        return pdf[["l_returnflag", "l_linestatus", "seq"]]

    seqd = joined.groupBy("l_partkey").applyInPandas(
        ordinal, "l_returnflag string, l_linestatus string, seq long"
    )
    return seqd.cube("l_returnflag", "l_linestatus").agg(
        (2 * F.grouping("l_returnflag") + F.grouping("l_linestatus"))
        .cast("int")
        .alias("gid"),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("seq").cast("long").alias("seq_total"),
    )
