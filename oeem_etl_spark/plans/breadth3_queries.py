"""Third-face queries for rotation-starved §2 rows (round 6).

After five driver rounds, 43 SURVEY §2 tags had no never-driver-checked
query left (tools/gen_driver_checked.py ledger) — the r5 second faces
(plans/breadth_queries.py) were themselves certified in r5, so the
50-slot prefix was again pinned to already-checked picks for those rows.
Every query here gives one of those rows a THIRD independently-shaped
face: different fixtures, different compositions than both the anchor
and the second face, each with a full DuckDB oracle.
"""

from __future__ import annotations

import os
import tempfile

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from oeem_etl_spark.catalog import local_frame
from oeem_etl_spark.plans.registry import query
from oeem_etl_spark.plans.util import T, dsum, sql_dsum

_TMP = os.path.join(
    tempfile.gettempdir(), f"oeem_etl_spark_breadth3_{os.getpid()}"
)

_CAST_TS = "CAST(ts AS TIMESTAMP)"


# ---------------------------------------------------------------------------
# Source/sink faces
# ---------------------------------------------------------------------------


@query(
    "a41_csv_quote_roundtrip",
    sql="""
    SELECT p_partkey AS part_id,
           translate(upper(p_name), ' ', '_') AS tag,
           lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded,
           CAST(round(p_retailprice * 1000000) AS BIGINT) AS price_micros
    FROM part WHERE p_partkey <= 400
    """,
    tier="T2",
    survey="A2,A7,B1,B5,H1",
)
def a41_csv_quote_roundtrip(spark, sf_dir):
    """CSV round-trip under QUOTING (p_name contains the delimiter-free
    but space-laden catalog strings; the writer quotes, the schema'd
    reader must un-quote losslessly), then rename (B1) and the string
    toolkit face: translate + upper + lpad — all JVM built-ins with
    exact DuckDB twins."""
    sub = (
        T(spark, sf_dir, "part")
        .where(F.col("p_partkey") <= 400)
        .select("p_partkey", "p_name", "p_retailprice")
    )
    path = os.path.join(_TMP, "a41_csv")
    sub.write.mode("overwrite").option("header", True).option(
        "quoteAll", True
    ).csv(path)
    back = spark.read.option("header", True).schema(
        "p_partkey BIGINT, p_name STRING, p_retailprice DOUBLE"
    ).csv(path)
    return back.withColumnRenamed("p_partkey", "part_id").select(
        "part_id",
        F.translate(F.upper("p_name"), " ", "_").alias("tag"),
        F.lpad(F.col("part_id").cast("string"), 8, "0").alias("padded"),
        F.round(F.col("p_retailprice") * 1_000_000)
        .cast("long")
        .alias("price_micros"),
    )


@query(
    "a42_json_path_extract",
    sql="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_prop,
           CAST(json_extract(payload, '$.meta.bucket') AS BIGINT) AS bucket,
           json_extract_string(payload, '$.meta.kind') AS kind
    FROM (
      SELECT event_id, props,
             to_json(struct_pack(meta := struct_pack(
               bucket := user_id % 16, kind := event_type))) AS payload
      FROM events WHERE event_id <= 400
    )
    """,
    tier="T2",
    survey="A3,H12,B7",
)
def a42_json_path_extract(spark, sf_dir):
    """JSON scan + path-extraction face: events round-trip through an
    ndjson sink carrying BOTH the fixture's raw ``props`` JSON string and
    a freshly-serialized nested payload; the reader drops the unused
    columns (B7 = the projection) and digs values back out with
    get_json_object paths — the schemaless-JSON access pattern, vs a32's
    fully-schema'd map/struct reassembly."""
    ev = (
        T(spark, sf_dir, "events")
        .where(F.col("event_id") <= 400)
        .select(
            "event_id",
            "props",
            F.to_json(
                F.struct(
                    F.struct(
                        (F.col("user_id") % 16).alias("bucket"),
                        F.col("event_type").alias("kind"),
                    ).alias("meta")
                )
            ).alias("payload"),
        )
    )
    path = os.path.join(_TMP, "a42_json")
    ev.write.mode("overwrite").json(path)
    back = spark.read.schema(
        "event_id BIGINT, props STRING, payload STRING"
    ).json(path)
    return back.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_prop"),
        F.get_json_object("payload", "$.meta.bucket")
        .cast("long")
        .alias("bucket"),
        F.get_json_object("payload", "$.meta.kind").alias("kind"),
    )


@query(
    "a43_catalog_set_algebra",
    sql="""
    WITH expected(event_type) AS (
      VALUES ('view'), ('click'), ('purchase'), ('signup'),
             ('error'), ('refund')
    ),
    observed AS (SELECT DISTINCT event_type FROM events)
    SELECT 'known' AS bucket, event_type
    FROM (SELECT event_type FROM expected
          INTERSECT SELECT event_type FROM observed)
    UNION ALL
    SELECT 'all' AS bucket, event_type
    FROM (SELECT event_type FROM expected
          UNION SELECT event_type FROM observed)
    """,
    tier="T2",
    survey="A5,D11,G2,G3",
)
def a43_catalog_set_algebra(spark, sf_dir):
    """In-memory catalog (driver literal) vs observed DISTINCT event
    types, pushed through INTERSECT and UNION DISTINCT and labeled per
    branch — the set-algebra face over a mixed literal/scan pair, where
    a32/g9 used homogeneous table sides."""
    expected = local_frame(
        spark,
        [("view",), ("click",), ("purchase",), ("signup",), ("error",),
         ("refund",)],
        "event_type string",
    )
    observed = T(spark, sf_dir, "events").select("event_type").distinct()
    known = expected.intersect(observed).select(
        F.lit("known").alias("bucket"), "event_type"
    )
    union = expected.union(observed).distinct().select(
        F.lit("all").alias("bucket"), "event_type"
    )
    return known.unionByName(union)


@query(
    "a44_fetch_upload_by_lang",
    sql="""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents WHERE doc_id <= 600
    GROUP BY lang
    """,
    tier="T2",
    survey="A11,A12,A2",
)
def a44_fetch_upload_by_lang(spark, sf_dir):
    """Fetch→parse→upload face over the DOCUMENTS corpus (a14/a36 used
    events): language-sharded CSVs behind a doubly-flaky transport
    (fail_times=2, so the retry loop is exercised past one attempt),
    per-lang rollup, chunked idempotent bulk-upsert; the result is the
    datastore's materialized state, so the oracle match proves
    exactly-once delivery through BOTH injected failure edges."""
    import functools
    import shutil

    from oeem_etl_spark.sources import fetch as fx
    from oeem_etl_spark.sources import upload as up

    root = os.path.join(
        _TMP, f"a44_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    shutil.rmtree(root, ignore_errors=True)
    remote = os.path.join(root, "remote")
    fstate = os.path.join(root, "fstate")
    ustate = os.path.join(root, "ustate")
    landing = os.path.join(root, "landing")
    dsroot = os.path.join(root, "ds")
    for d in (remote, fstate, ustate):
        os.makedirs(d, exist_ok=True)

    docs = (
        T(spark, sf_dir, "documents")
        .where(F.col("doc_id") <= 600)
        .select("lang", "n_chars")
    )
    docs.repartition(5, "lang").write.mode("overwrite").option(
        "header", True
    ).csv(remote)
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
        fx.local_flaky_fetcher, remote=remote, fail_times=2, state_dir=fstate
    )
    fx.check_fetched(fx.fetch_to_landing(tasks, ffactory, landing))

    raw = spark.read.option("header", True).schema(
        "lang string, n_chars long"
    ).csv(landing)
    agg = raw.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    ufactory = functools.partial(
        up.local_flaky_datastore, root=dsroot, fail_times=2, state_dir=ustate
    )
    up.bulk_upload(
        agg.withColumn("seq", F.lit(1)),
        ufactory,
        epoch_id=0,
        batch_size=2,
        max_attempts=5,
    )
    state = up.FilesystemDatastore(dsroot).state("lang", "seq")
    rows = [
        (str(v["lang"]), int(v["n_docs"]), int(v["total_chars"]))
        for v in state.values()
    ]
    return local_frame(spark, rows, "lang string, n_docs long, total_chars long")


# ---------------------------------------------------------------------------
# Streaming faces
# ---------------------------------------------------------------------------


@query(
    "i31_stream_sink_rewindow",
    sql=f"""
    SELECT time_bucket(INTERVAL '15 minutes', {_CAST_TS}) AS window_start,
           COUNT(*) AS cnt, {sql_dsum("value", "sum_value")}
    FROM events WHERE event_type = 'purchase'
    GROUP BY window_start
    """,
    tier="T3",
    survey="A9,A10,I1,I8",
)
def i31_stream_sink_rewindow(spark, sf_dir):
    """Source→sink→source→window chain: purchases stream through a
    foreachBatch PARQUET sink (append per micro-batch), then the sink
    directory itself becomes a SECOND file stream feeding a 15-minute
    tumbling aggregation in complete mode — the relay topology a
    multi-hop pipeline runs, where i1's face is a single hop."""
    import shutil

    from oeem_etl_spark.streaming import harness, ops
    from oeem_etl_spark.streaming.source import events_stream

    relay = os.path.join(
        _TMP, f"i31_relay_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    shutil.rmtree(relay, ignore_errors=True)
    stage1 = events_stream(spark, sf_dir).where(
        F.col("event_type") == "purchase"
    ).select("ts", "value")
    harness.foreach_batch_to_parquet(stage1, relay)
    schema = spark.read.parquet(relay).schema
    stage2 = spark.readStream.schema(schema).parquet(relay)
    out = ops.tumbling_agg(
        stage2,
        "15 minutes",
        [],
        [F.count(F.lit(1)).alias("cnt"), dsum("value", "sum_value")],
    )
    return harness.run_available_now(out, "complete")


@query(
    "i32_stream_sliding_90m",
    sql=f"""
    WITH cand AS (
      SELECT unnest(list_transform(generate_series(0, 2), k ->
               time_bucket(INTERVAL '30 minutes', {_CAST_TS})
                 - k * INTERVAL '30 minutes')) AS window_start,
             event_type, value
      FROM events
    )
    SELECT window_start, event_type, COUNT(*) AS cnt,
           {sql_dsum("value", "sum_value")}
    FROM cand GROUP BY window_start, event_type
    """,
    tier="T3",
    survey="I2,I8",
)
def i32_stream_sliding_90m(spark, sf_dir):
    """90-minute windows sliding every 30 (each event lands in exactly 3
    overlapping windows — i19's face used 2h/1h = 2), keyed by event
    type, complete mode."""
    from oeem_etl_spark.streaming import harness, ops
    from oeem_etl_spark.streaming.source import events_stream

    sdf = events_stream(spark, sf_dir)
    out = ops.sliding_agg(
        sdf,
        "90 minutes",
        "30 minutes",
        ["event_type"],
        [F.count(F.lit(1)).alias("cnt"), dsum("value", "sum_value")],
    )
    return harness.run_available_now(out, "complete")


@query(
    "i33_stream_dedup_user_days",
    sql=f"""
    SELECT user_id, COUNT(DISTINCT date_trunc('day', {_CAST_TS})) AS n_days
    FROM events GROUP BY user_id
    """,
    tier="T3",
    survey="I5,D11",
)
def i33_stream_dedup_user_days(spark, sf_dir):
    """Streaming dedup face on a DERIVED key: state keeps one row per
    (user, activity day) — the daily-active dedup shape — and a post-
    drain batch agg counts distinct active days per user (i5 deduped raw
    key pairs; this face proves derived-column dedup state)."""
    from oeem_etl_spark.streaming import harness, ops
    from oeem_etl_spark.streaming.source import events_stream

    sdf = events_stream(spark, sf_dir).select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    )
    out = ops.dedup_keys(sdf, ["user_id", "day"])
    drained = harness.run_available_now(out, "append")
    return drained.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_days")
    )


@query(
    "i34_stateful_bucket_totals",
    sql=f"""
    SELECT CAST(user_id % 16 AS BIGINT) AS bucket16,
           COUNT(*) AS n_events, {sql_dsum("value", "total_value")}
    FROM events GROUP BY 1
    """,
    tier="T3",
    survey="I6,I8",
)
def i34_stateful_bucket_totals(spark, sf_dir):
    """applyInPandasWithState face on a COARSE derived key (16 hash
    buckets instead of i6's per-user state): the state store holds 16
    rows total at any corpus size — the bounded-cardinality rollup shape
    — and the last update-mode emission per bucket must equal the batch
    aggregate exactly (integer-micros accumulation)."""
    from oeem_etl_spark.streaming import harness, ops
    from oeem_etl_spark.streaming.source import events_stream

    sdf = events_stream(spark, sf_dir).withColumn(
        "bucket16", (F.col("user_id") % 16).cast("long")
    )
    updates = ops.running_totals_state(sdf, key="bucket16")
    drained = harness.run_available_now(updates, "update")
    w = Window.partitionBy("bucket16").orderBy(F.col("n_events").desc())
    return (
        drained.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Join faces
# ---------------------------------------------------------------------------


@query(
    "c41_maintenance_overlap",
    sql=f"""
    WITH spans AS (
      SELECT event_id, {_CAST_TS} AS s,
             {_CAST_TS} + INTERVAL '30 minutes' AS e
      FROM events WHERE event_type = 'error'
    ),
    mw(mw_name, ms, me) AS (VALUES
      ('patch-a', TIMESTAMP '2024-01-05 00:00:00',
                  TIMESTAMP '2024-01-05 12:00:00'),
      ('patch-b', TIMESTAMP '2024-01-14 18:00:00',
                  TIMESTAMP '2024-01-15 06:00:00'),
      ('audit',   TIMESTAMP '2024-01-27 00:00:00',
                  TIMESTAMP '2024-01-28 00:00:00'))
    SELECT mw.mw_name, COUNT(*) AS n_overlapping
    FROM spans JOIN mw ON spans.s < mw.me AND mw.ms < spans.e
    GROUP BY mw.mw_name
    """,
    tier="T2",
    survey="C7,A5,C9",
)
def c41_maintenance_overlap(spark, sf_dir):
    """Interval-overlap face against an IN-MEMORY dimension: error-event
    spans ([ts, ts+30min)) overlapped with three literal maintenance
    windows (broadcast — the small side ships, the event side never
    shuffles); c32's face used quarter spans from the same table."""
    from oeem_etl_spark.operators.relational import interval_overlap_join

    spans = (
        T(spark, sf_dir, "events")
        .where(F.col("event_type") == "error")
        .select(
            "event_id",
            F.col("ts").alias("s"),
            (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e"),
        )
    )
    mw = local_frame(
        spark,
        [
            ("patch-a", "2024-01-05 00:00:00", "2024-01-05 12:00:00"),
            ("patch-b", "2024-01-14 18:00:00", "2024-01-15 06:00:00"),
            ("audit", "2024-01-27 00:00:00", "2024-01-28 00:00:00"),
        ],
        "mw_name string, ms string, me string",
    ).select(
        "mw_name",
        F.col("ms").cast("timestamp").alias("ms"),
        F.col("me").cast("timestamp").alias("me"),
    )
    joined = interval_overlap_join(
        spans, F.broadcast(mw), "s", "e", "ms", "me"
    )
    return joined.groupBy("mw_name").agg(
        F.count(F.lit(1)).alias("n_overlapping")
    )


@query(
    "c42_asof_next_error",
    sql=f"""
    WITH pur AS (
      SELECT event_id, user_id, {_CAST_TS} AS ts
      FROM events WHERE event_type = 'purchase'
    ),
    err AS (
      SELECT user_id, ts, value FROM (
        SELECT user_id, {_CAST_TS} AS ts, value,
               row_number() OVER (PARTITION BY user_id, {_CAST_TS}
                                  ORDER BY event_id) AS rn
        FROM events WHERE event_type = 'error'
      ) WHERE rn = 1
    ),
    nxt AS (
      SELECT p.event_id, p.user_id, MIN(e.ts) AS nts
      FROM pur p LEFT JOIN err e
        ON e.user_id = p.user_id AND e.ts > p.ts
      GROUP BY p.event_id, p.user_id
    )
    SELECT n.event_id, n.user_id,
           CAST(epoch_us(n.nts) AS BIGINT) AS err_micros,
           ROUND(e.value, 6) AS err_value
    FROM nxt n LEFT JOIN err e
      ON e.user_id = n.user_id AND e.ts = n.nts
    """,
    tier="T2",
    survey="C8,E2",
)
def c42_asof_next_error(spark, sf_dir):
    """FORWARD as-of (strict): for each purchase, the user's next error
    event — direction="forward", allow_exact=False, the
    next-reading-after semantics c8/k26 (both backward) never exercise.
    The right side is pre-deduped per (user, ts) so the winner is
    deterministic; one shuffle on user_id over |L|+|R| rows, same
    union+window plan as backward."""
    from oeem_etl_spark.operators.relational import asof_join

    ev = T(spark, sf_dir, "events")
    pur = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    w = Window.partitionBy("user_id", "ts").orderBy("event_id")
    err = (
        ev.where(F.col("event_type") == "error")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "ts",
            F.unix_micros("ts").alias("err_micros"),
            F.round("value", 6).alias("err_value"),
        )
    )
    out = asof_join(
        pur,
        err,
        keys=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols=["err_micros", "err_value"],
        allow_exact=False,
        direction="forward",
    )
    return out.select("event_id", "user_id", "err_micros", "err_value")


# ---------------------------------------------------------------------------
# Relational / window / function faces
# ---------------------------------------------------------------------------


@query(
    "d41_ship_extremes",
    sql="""
    WITH ranked AS (
      SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber,
             row_number() OVER (PARTITION BY l_returnflag, l_linestatus
               ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn_a,
             row_number() OVER (PARTITION BY l_returnflag, l_linestatus
               ORDER BY l_shipdate DESC, l_orderkey DESC,
                        l_linenumber DESC) AS rn_d
      FROM lineitem
    )
    SELECT l_returnflag, l_linestatus,
           MAX(CASE WHEN rn_a = 1
               THEN l_orderkey * 10 + l_linenumber END) AS first_line,
           MAX(CASE WHEN rn_d = 1
               THEN l_orderkey * 10 + l_linenumber END) AS last_line
    FROM ranked GROUP BY l_returnflag, l_linestatus
    """,
    tier="T2",
    survey="D4,D1",
)
def d41_ship_extremes(spark, sf_dir):
    """Ordered first/last per (returnflag, linestatus) via min_by/max_by
    on the composite (shipdate, orderkey, linenumber) total order — the
    lineitem face of D4 (a33's second face used events); the extreme is
    encoded as orderkey*10+linenumber so a single bigint carries the
    identity."""
    li = T(spark, sf_dir, "lineitem")
    key = F.struct(
        F.col("l_shipdate"), F.col("l_orderkey"), F.col("l_linenumber")
    )
    line_id = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.min_by(line_id, key).alias("first_line"),
        F.max_by(line_id, key).alias("last_line"),
    )


@query(
    "d42_quarter_pivot_roundtrip",
    sql="""
    WITH q AS (
      SELECT o_custkey % 10 AS cohort,
             'q' || CAST(quarter(o_orderdate) AS VARCHAR) AS qtr,
             CAST(round(o_totalprice * 1000000) AS BIGINT) AS price_m
      FROM orders WHERE year(o_orderdate) = 1996
    ),
    piv AS (
      SELECT cohort,
             SUM(CASE WHEN qtr = 'q1' THEN price_m END) AS q1,
             SUM(CASE WHEN qtr = 'q2' THEN price_m END) AS q2,
             SUM(CASE WHEN qtr = 'q3' THEN price_m END) AS q3,
             SUM(CASE WHEN qtr = 'q4' THEN price_m END) AS q4
      FROM q GROUP BY cohort
    )
    SELECT cohort, qtr, ROUND(price_m / 1000000.0, 6) AS revenue
    FROM (
      SELECT cohort, 'q1' AS qtr, q1 AS price_m FROM piv
      UNION ALL SELECT cohort, 'q2', q2 FROM piv
      UNION ALL SELECT cohort, 'q3', q3 FROM piv
      UNION ALL SELECT cohort, 'q4', q4 FROM piv
    ) WHERE price_m IS NOT NULL
    """,
    tier="T2",
    survey="D13,D14,H4",
)
def d42_quarter_pivot_roundtrip(spark, sf_dir):
    """Pivot 1996 order revenue to quarter columns per customer cohort,
    then unpivot back to (cohort, qtr, revenue) — the calendar-quarter
    face of the D13→D14 round trip (d34 pivoted event-type buckets);
    integer-micros sums so the pivot cells are exact."""
    o = T(spark, sf_dir, "orders").where(F.year("o_orderdate") == 1996)
    q = o.select(
        (F.col("o_custkey") % 10).alias("cohort"),
        F.concat(F.lit("q"), F.quarter("o_orderdate")).alias("qtr"),
        F.round(F.col("o_totalprice") * 1_000_000).cast("long").alias("price_m"),
    )
    piv = q.groupBy("cohort").pivot("qtr", ["q1", "q2", "q3", "q4"]).sum("price_m")
    unp = piv.unpivot(["cohort"], ["q1", "q2", "q3", "q4"], "qtr", "price_m")
    return unp.where(F.col("price_m").isNotNull()).select(
        "cohort", "qtr",
        F.round(F.col("price_m") / 1_000_000.0, 6).alias("revenue"),
    )


@query(
    "e21_nth_value_range_frame",
    sql="""
    SELECT c_custkey, c_nationkey,
           nth_value(c_custkey, 3) OVER w AS third_in_nation,
           first_value(c_custkey) OVER w2 AS cheapest_so_far
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey
                 ORDER BY c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
           w2 AS (PARTITION BY c_nationkey
                  ORDER BY round(c_acctbal, 2), c_custkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    tier="T2",
    survey="E4,E3",
)
def e21_nth_value_range_frame(spark, sf_dir):
    """nth_value over the full-partition frame plus a running
    first_value over an ordered growing frame — the customer/acctbal
    face of E4 (e12's second face used orders); the acctbal order is
    rounded + custkey-tie-broken so the frame contents are total-ordered
    on both engines."""
    c = T(spark, sf_dir, "customer")
    w = (
        Window.partitionBy("c_nationkey")
        .orderBy("c_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w2 = (
        Window.partitionBy("c_nationkey")
        .orderBy(F.round("c_acctbal", 2), "c_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.nth_value("c_custkey", 3).over(w).alias("third_in_nation"),
        F.first("c_custkey").over(w2).alias("cheapest_so_far"),
    )


@query(
    "f11_grouped_page3",
    sql="""
    WITH g AS (
      SELECT o_custkey, COUNT(*) AS n_orders,
             CAST(SUM(CAST(round(o_totalprice * 1000000) AS BIGINT))
                  AS BIGINT) AS spend_m
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, n_orders, spend_m
    FROM g ORDER BY spend_m DESC, o_custkey
    LIMIT 25 OFFSET 50
    """,
    tier="T2",
    survey="F2,F3,D1",
)
def f11_grouped_page3(spark, sf_dir):
    """Page 3 (offset 50, limit 25) of a grouped aggregate under a fully
    tie-broken order — pagination AFTER a shuffle stage (f5's second face
    paged a raw scan), so the offset must compose with the agg, not the
    file order."""
    o = T(spark, sf_dir, "orders")
    g = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            F.round(F.col("o_totalprice") * 1_000_000).cast("long")
        ).alias("spend_m"),
    )
    return (
        g.orderBy(F.col("spend_m").desc(), F.col("o_custkey"))
        .offset(50)
        .limit(25)
    )


@query(
    "h51_map_algebra",
    sql="""
    WITH m AS (
      SELECT user_id,
             map(list(event_type ORDER BY event_type),
                 list(cnt ORDER BY event_type)) AS counts
      FROM (SELECT user_id, event_type, COUNT(*) AS cnt
            FROM events GROUP BY user_id, event_type)
      GROUP BY user_id
    )
    SELECT user_id, et AS event_type, n * 2 AS doubled
    FROM (
      SELECT user_id, unnest(map_keys(counts)) AS et,
             unnest(map_values(counts)) AS n
      FROM m
    ) WHERE n >= 3
    """,
    tier="T2",
    survey="H10,H8,D1",
)
def h51_map_algebra(spark, sf_dir):
    """Map-builder face: per-user event-type count MAPS assembled with
    map_from_entries over sorted entries, values doubled via
    transform_values, entries below 3 dropped via map_filter, then
    exploded back to rows — h22/a32 accessed maps; this face REWRITES
    them."""
    ev = T(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    m = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("counts")
    )
    rewritten = m.select(
        "user_id",
        F.map_filter(
            F.transform_values(
                F.col("counts"), lambda _, v: v * 2
            ),
            lambda _, v: v >= 6,
        ).alias("counts"),
    )
    return rewritten.select(
        "user_id", F.explode("counts").alias("event_type", "doubled")
    )


@query(
    "h52_struct_minmax_sort",
    sql="""
    WITH s AS (
      SELECT user_id,
             min(struct_pack(ts := CAST(ts AS TIMESTAMP), event_id := event_id))
               AS first_s,
             max(struct_pack(ts := CAST(ts AS TIMESTAMP), event_id := event_id))
               AS last_s
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    )
    SELECT user_id, first_s.event_id AS first_event,
           last_s.event_id AS last_event,
           CAST(epoch_us(last_s.ts) - epoch_us(first_s.ts) AS BIGINT)
             AS span_micros
    FROM s
    """,
    tier="T2",
    survey="H11,D4",
)
def h52_struct_minmax_sort(spark, sf_dir):
    """STRUCT ordering as the aggregation key: min/max over
    struct(ts, event_id) uses the struct's lexicographic total order
    directly (no min_by indirection — the H11 face is the struct
    comparator itself), then field access unpacks the winners."""
    ev = T(spark, sf_dir, "events").where(F.col("event_type") == "signup")
    s = F.struct(F.col("ts"), F.col("event_id"))
    g = ev.groupBy("user_id").agg(
        F.min(s).alias("first_s"), F.max(s).alias("last_s")
    )
    return g.select(
        "user_id",
        F.col("first_s.event_id").alias("first_event"),
        F.col("last_s.event_id").alias("last_event"),
        (
            F.unix_micros("last_s.ts") - F.unix_micros("first_s.ts")
        ).alias("span_micros"),
    )


@query(
    "h53_try_parse_family",
    sql="""
    SELECT event_id,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
           TRY_CAST('20' || CAST(user_id AS VARCHAR) AS BIGINT) AS fused,
           CASE WHEN user_id % 7 = 0 THEN NULL
                ELSE CAST(event_id // (user_id % 7) AS BIGINT) END AS safe_div
    FROM events WHERE event_id <= 1500
    """,
    tier="T2",
    survey="H13,B6,H12",
)
def h53_try_parse_family(spark, sf_dir):
    """try_-family face over SEMI-STRUCTURED input (h14 tried casts on
    clean columns): numbers dug out of the props JSON with try_cast,
    string-fused bigints, and integer try_divide — every failure lane
    yields NULL instead of an ANSI abort."""
    ev = T(spark, sf_dir, "events").where(F.col("event_id") <= 1500)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").try_cast("long").alias("k_num"),
        F.concat(F.lit("20"), F.col("user_id").cast("string"))
        .try_cast("long")
        .alias("fused"),
        F.try_divide(F.col("event_id"), F.col("user_id") % 7)
        .cast("long")
        .alias("safe_div"),
    )


# ---------------------------------------------------------------------------
# UDF-contract faces
# ---------------------------------------------------------------------------


@query(
    "j31_sql_registered_pipeline",
    sql="""
    SELECT doc_id,
           length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS alpha_len,
           CASE WHEN length(text) = 0 THEN 0.0
                ELSE ROUND(CAST(length(regexp_replace(lower(text),
                       '[^a-z]', '', 'g')) AS DOUBLE) / length(text), 6)
           END AS alpha_frac
    FROM documents WHERE doc_id <= 250
    """,
    tier="T3",
    survey="J1,J7",
)
def j31_sql_registered_pipeline(spark, sf_dir):
    """Scalar Python UDF registered via spark.udf.register and consumed
    from SQL TEXT (not the DataFrame API — j13's face) — the
    user-extension entry point a SQL-first caller uses. The UDF computes
    the alphabetic character count; the ratio stays in SQL so only the
    genuinely-Python step pays the Python tax."""

    def alpha_len(s: str) -> int:
        return sum(1 for ch in s.lower() if "a" <= ch <= "z") if s else 0

    spark.udf.register("oeem_alpha_len", alpha_len, "long")
    T(spark, sf_dir, "documents").where(
        F.col("doc_id") <= 250
    ).createOrReplaceTempView("j31_docs")
    return spark.sql(
        """
        SELECT doc_id, oeem_alpha_len(text) AS alpha_len,
               CASE WHEN length(text) = 0 THEN 0.0D
                    ELSE ROUND(CAST(oeem_alpha_len(text) AS DOUBLE)
                               / length(text), 6) END AS alpha_frac
        FROM j31_docs
        """
    )


@query(
    "j32_pandas_udf_whitespace",
    sql="""
    SELECT doc_id,
           trim(regexp_replace(text, ' +', ' ', 'g')) AS squeezed,
           length(text) - length(trim(regexp_replace(text, ' +', ' ', 'g')))
             AS removed
    FROM documents WHERE doc_id <= 250
    """,
    tier="T3",
    survey="J2,H2",
)
def j32_pandas_udf_whitespace(spark, sf_dir):
    """Arrow-batched pandas UDF doing VECTORIZED string cleanup
    (pandas .str ops over the whole batch — no per-row Python loop,
    unlike a scalar UDF): collapse runs of spaces and trim; the removed
    count proves character-exact equivalence with the SQL regexp."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    # bare signature. This module uses `from __future__ import
    # annotations`, so a hint is a string that pandas_udf resolves against
    # the module's globals: a hint must name the module-level `pd`, never
    # a function-local import
    def squeeze(s):
        return s.str.replace(" +", " ", regex=True).str.strip()

    docs = T(spark, sf_dir, "documents").where(F.col("doc_id") <= 250)
    out = docs.select("doc_id", "text", squeeze("text").alias("squeezed"))
    return out.select(
        "doc_id",
        "squeezed",
        (F.length("text") - F.length("squeezed")).alias("removed"),
    )


@query(
    "j33_grouped_agg_rms",
    sql="""
    SELECT event_type,
           ROUND(sqrt(AVG(value * value)), 6) AS rms
    FROM events GROUP BY event_type
    """,
    tier="T3",
    survey="J5,D3",
)
def j33_grouped_agg_rms(spark, sf_dir):
    """Vectorized grouped-AGG pandas UDF (root-mean-square per event
    type) — j5's face computed max; RMS exercises a genuinely numeric
    reduction where numpy does the whole group in one call. Five groups
    of ~N/5 doubles: summation-order differences live below the 1e-6
    rounding."""
    from pyspark.sql.functions import pandas_udf

    # Series -> scalar hints make this a grouped-agg UDF; they resolve
    # against the module-level pandas import (see the j32 note)
    @pandas_udf("double")
    def rms(v: pd.Series) -> float:
        import numpy as np

        return float(np.sqrt(np.mean(np.square(v.to_numpy()))))

    ev = T(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(rms(F.col("value")), 6).alias("rms")
    )


@query(
    "j34_udtf_char_bigrams",
    sql="""
    WITH ch AS (
      SELECT doc_id, substr(lower(text), i, 2) AS bg
      FROM documents,
           LATERAL (SELECT unnest(generate_series(1, length(text) - 1)) AS i) s
      WHERE doc_id <= 40
    )
    SELECT doc_id, bg, COUNT(*) AS n
    FROM ch
    WHERE bg NOT LIKE '% %'
    GROUP BY doc_id, bg
    HAVING COUNT(*) >= 3
    """,
    tier="T3",
    survey="J6,L5",
)
def j34_udtf_char_bigrams(spark, sf_dir):
    """Python UDTF emitting CHARACTER bigrams (j6's face split words):
    one-to-many expansion at the character level, LATERAL-joined in SQL,
    then a plain aggregation keeps bigrams occurring 3+ times — the
    n-gram profiler shape for language-ID features."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="bg string")
    class CharBigrams:
        def eval(self, text: str):
            t = (text or "").lower()
            for i in range(len(t) - 1):
                bg = t[i : i + 2]
                if " " not in bg:
                    yield (bg,)

    spark.udtf.register("oeem_char_bigrams", CharBigrams)
    T(spark, sf_dir, "documents").where(
        F.col("doc_id") <= 40
    ).createOrReplaceTempView("j34_docs")
    return spark.sql(
        """
        SELECT d.doc_id, b.bg, COUNT(*) AS n
        FROM j34_docs d, LATERAL oeem_char_bigrams(d.text) b
        GROUP BY d.doc_id, b.bg HAVING COUNT(*) >= 3
        """
    )


# ---------------------------------------------------------------------------
# ETL faces
# ---------------------------------------------------------------------------


@query(
    "k71_billing_cycles",
    sql=f"""
    SELECT CAST(date_diff('day', DATE '2024-01-01', CAST({_CAST_TS} AS DATE))
                // 10 AS BIGINT) AS cycle,
           COUNT(*) AS n_events, {sql_dsum("value", "sum_value")}
    FROM events GROUP BY cycle
    """,
    tier="T2",
    survey="K7,H4",
)
def k71_billing_cycles(spark, sf_dir):
    """Interval-align face #3 — arithmetic bucketing into 10-DAY billing
    cycles anchored at 2024-01-01 (k7 aligned via keyless as-of, k57 via
    month-window join): pure integer date arithmetic, no join at all —
    the cheapest alignment when intervals are regular."""
    ev = T(spark, sf_dir, "events")
    cycle = F.floor(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        / 10
    ).cast("long")
    return ev.groupBy(cycle.alias("cycle")).agg(
        F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value")
    )


@query(
    "k72_mixed_unit_rebase",
    sql="""
    WITH u AS (
      SELECT CASE CAST(json_extract(props, '$.k') AS BIGINT) % 3
               WHEN 0 THEN 'Wh' WHEN 1 THEN 'kWh' ELSE 'MWh' END AS unit,
             CAST(round(value * 1000000) AS BIGINT)
               * CASE CAST(json_extract(props, '$.k') AS BIGINT) % 3
                   WHEN 0 THEN 1 WHEN 1 THEN 1000 ELSE 1000000 END
               AS wh_micros
      FROM events
    )
    SELECT unit, COUNT(*) AS n,
           CAST(SUM(wh_micros) AS BIGINT) AS total_wh_micros
    FROM u GROUP BY unit
    """,
    tier="T2",
    survey="K8,B4,H12",
)
def k72_mixed_unit_rebase(spark, sf_dir):
    """Unit-normalization face #3 — the unit arrives IN-BAND (derived
    from the props payload, the mixed-feed case) instead of k8's clean
    enum-to-factor lookup: CASE-dispatched integer factors rebase
    everything to exact Wh-micros, so the rollup is overflow-checked
    integer math end to end."""
    ev = T(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long") % 3
    unit = (
        F.when(k == 0, "Wh").when(k == 1, "kWh").otherwise("MWh")
    )
    factor = F.when(k == 0, 1).when(k == 1, 1000).otherwise(1000000)
    wh = F.round(F.col("value") * 1_000_000).cast("long") * factor
    return ev.select(unit.alias("unit"), wh.alias("wh_micros")).groupBy(
        "unit"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("wh_micros").alias("total_wh_micros"),
    )


@query(
    "k73_gap_sessions",
    sql=f"""
    WITH o AS (
      SELECT user_id, {_CAST_TS} AS ts,
             lag({_CAST_TS}) OVER (PARTITION BY user_id
                                   ORDER BY {_CAST_TS}, event_id) AS prev
      FROM events
    ),
    s AS (
      SELECT user_id,
             SUM(CASE WHEN prev IS NULL
                       OR ts - prev > INTERVAL '45 minutes'
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sess
      FROM o
    ),
    per AS (SELECT user_id, sess, COUNT(*) AS n FROM s
            GROUP BY user_id, sess)
    SELECT user_id, COUNT(*) AS n_sessions,
           MAX(n) AS longest_session
    FROM per GROUP BY user_id
    """,
    tier="T2",
    survey="K11,E2",
)
def k73_gap_sessions(spark, sf_dir):
    """Gap-based sessionization via lag + running boundary-count (the
    manual cumsum construction — k11b's face used the native
    session_window): a new session starts after a 45-minute silence;
    reports per-user session count and the largest session's event
    count."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id", "ts", F.lag("ts").over(w).alias("prev")
    )
    boundary = (
        F.col("prev").isNull()
        | (F.col("ts") > F.col("prev") + F.expr("INTERVAL 45 MINUTES"))
    ).cast("int")
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = o.select("user_id", F.sum(boundary).over(wrun).alias("sess"))
    per = s.groupBy("user_id", "sess").agg(F.count(F.lit(1)).alias("n"))
    return per.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n").alias("longest_session"),
    )


# ---------------------------------------------------------------------------
# LLM-pipeline faces
# ---------------------------------------------------------------------------


@query(
    "l81_knn_margin",
    sql="""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qvec FROM embeddings
               WHERE vec_id BETWEEN 10 AND 19),
    scored AS (
      SELECT q.q_id, e.vec_id,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          CAST(q.qvec AS DOUBLE[])), 6)
               AS score
      FROM embeddings e CROSS JOIN q
    ),
    topk AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY score DESC, vec_id) AS rnk
        FROM scored
      ) WHERE rnk <= 7
    ),
    votes AS (
      SELECT t.q_id, e.label, COUNT(*) AS votes
      FROM topk t JOIN embeddings e USING (vec_id)
      GROUP BY t.q_id, e.label
    ),
    ranked AS (
      SELECT q_id, label, votes,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY votes DESC, label) AS r
      FROM votes
    )
    SELECT a.q_id, a.label AS predicted, a.votes,
           CAST(a.votes - COALESCE(b.votes, 0) AS BIGINT) AS margin
    FROM ranked a LEFT JOIN ranked b ON b.q_id = a.q_id AND b.r = 2
    WHERE a.r = 1
    """,
    tier="T3",
    survey="L4,L3,E5",
)
def l81_knn_margin(spark, sf_dir):
    """kNN face #3 — k=7 over a different query slice, reporting the
    winning label AND the vote MARGIN over the runner-up (the
    classification-confidence signal l4's plain majority face drops;
    margin 7 means unanimous)."""
    from oeem_etl_spark.operators import similarity

    emb = T(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id").between(10, 19)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    topk = similarity.cosine_topk(emb, queries, k=7)
    votes = (
        topk.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("q_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("votes").desc(), F.col("label").asc()
    )
    ranked = votes.withColumn("r", F.row_number().over(w))
    first = ranked.where(F.col("r") == 1).select(
        "q_id", F.col("label").alias("predicted"), "votes"
    )
    second = ranked.where(F.col("r") == 2).select(
        "q_id", F.col("votes").alias("votes2")
    )
    return first.join(second, "q_id", "left").select(
        "q_id",
        "predicted",
        "votes",
        (F.col("votes") - F.coalesce("votes2", F.lit(0)))
        .cast("long")
        .alias("margin"),
    )


@query(
    "l82_tfidf_top_terms",
    sql="""
    WITH tf AS (
      SELECT doc_id, tok AS term, COUNT(*) AS tf FROM (
        SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents
      ) GROUP BY doc_id, tok
    ), dfreq AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    wts AS (
      SELECT tf.doc_id, tf.term,
             ROUND((1 + ln(tf.tf))
                   * ln((CAST(n.n_docs AS DOUBLE) + 1) / (dfreq.df + 1)), 6)
               AS w
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
      WHERE tf.doc_id < 30
    )
    SELECT doc_id, term, w,
           CAST(rnk AS INT) AS rnk
    FROM (
      SELECT doc_id, term, w,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY w DESC, term) AS rnk
      FROM wts
    ) WHERE rnk <= 3
    """,
    tier="T3",
    survey="L6,L5,E5",
)
def l82_tfidf_top_terms(spark, sf_dir):
    """tf-idf face #3 — sublinear tf (1+ln tf) with add-one-smoothed idf,
    keeping each document's top-3 keywords (the keyword-extraction shape;
    l6 emits the full raw matrix). Weights are rounded to 6dp BEFORE the
    rank so the top-3 cut is engine-stable."""
    from oeem_etl_spark.operators import text

    docs = T(spark, sf_dir, "documents")
    n_docs = docs.count()
    raw = text.tf_idf(docs, "doc_id", "text").where(F.col("doc_id") < 30)
    wts = raw.select(
        "doc_id",
        "term",
        F.round(
            (1 + F.log(F.col("tf")))
            * F.log((F.lit(float(n_docs)) + 1) / (F.col("df") + 1)),
            6,
        ).alias("w"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("w").desc(), F.col("term"))
    return (
        wts.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .withColumn("rnk", F.col("rnk").cast("int"))
    )


@query(
    "m51_degree_centrality",
    sql="""
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_partkey <= 300
    ),
    edges AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    und AS (
      SELECT u AS node, v AS nbr FROM edges
      UNION ALL SELECT v, u FROM edges
    ),
    deg AS (SELECT node, COUNT(DISTINCT nbr) AS degree FROM und
            GROUP BY node),
    nn AS (SELECT COUNT(*) AS n_nodes FROM deg)
    SELECT node, degree,
           ROUND(CAST(degree AS DOUBLE) / (n_nodes - 1), 6) AS centrality
    FROM deg CROSS JOIN nn
    ORDER BY degree DESC, node LIMIT 20
    """,
    tier="T3",
    survey="L10,C10,F3",
)
def m51_degree_centrality(spark, sf_dir):
    """Degree centrality on the co-purchase graph (bounded part slice):
    the cheapest of the centrality family — one self-join for edges, one
    distinct-neighbor count, normalized by n-1 (m2's face iterates
    PageRank; this face is the single-pass baseline every graph report
    starts with). Top-20 fully tie-broken."""
    li = T(spark, sf_dir, "lineitem").where(F.col("l_partkey") <= 300)
    op = li.select("l_orderkey", "l_partkey").distinct()
    a = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "ok").where(F.col("u") < F.col("v")).select("u", "v").distinct()
    )
    und = edges.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = und.groupBy("node").agg(F.count_distinct("nbr").alias("degree"))
    n_nodes = deg.count()
    return (
        deg.select(
            "node",
            "degree",
            F.round(F.col("degree") / F.lit(float(n_nodes - 1)), 6).alias(
                "centrality"
            ),
        )
        .orderBy(F.col("degree").desc(), "node")
        .limit(20)
    )


@query(
    "m52_stratified_weighted_pick",
    sql=f"""
    SELECT lang, doc_id, n_chars
    FROM (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY pow(
                 CAST(CAST(concat('0x', substring(md5(concat(
                   CAST(doc_id AS VARCHAR), ':7')), 1, 8)) AS UBIGINT)
                   AS DOUBLE) / {float(1 << 32)},
                 1.0 / n_chars) DESC, doc_id
             ) AS rn
      FROM documents WHERE n_chars > 0
    ) WHERE rn <= 3
    ORDER BY lang, doc_id
    """,
    tier="T3",
    survey="L11,B8,E5",
)
def m52_stratified_weighted_pick(spark, sf_dir):
    """Weighted-sample face #3 — per-LANGUAGE strata (m3 sampled per
    source) with k=3 and a different seed: Efraimidis–Spirakis over the
    md5 uniform, so the language-balanced training-mixture draw is fully
    deterministic and oracle-checked."""
    from oeem_etl_spark.operators.splits import (
        weighted_sample_without_replacement,
    )

    docs = T(spark, sf_dir, "documents").select("lang", "doc_id", "n_chars")
    picked = weighted_sample_without_replacement(
        docs, key="doc_id", weight="n_chars", k=3, group_by=["lang"], seed=7
    )
    return picked.select("lang", "doc_id", "n_chars").orderBy("lang", "doc_id")


@query(
    "l83_embed_pool_stats",
    sql="""
    WITH emb AS (
      SELECT doc_id, lang,
             list_transform(generate_series(0, 7), j ->
               CAST(concat('0x', substr(md5(text || '|' || CAST(j AS VARCHAR)),
                    1, 8)) AS UBIGINT) % 1000) AS v
      FROM documents WHERE doc_id < 150
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(v[1]) AS BIGINT) AS sum_c0,
           CAST(SUM(list_sum(v)) AS BIGINT) AS sum_all
    FROM emb GROUP BY lang
    """,
    tier="T3",
    survey="L9,J4,D1",
)
def l83_embed_pool_stats(spark, sf_dir):
    """Embed-batch face #4 — POOLED statistics per language over the
    Arrow-batched encoder's output (l9b sums per doc, l9d checks per-
    component integrity; this face checks the group-by composition over
    embedded vectors): first-component and all-component integer sums
    per language stratum."""
    import hashlib

    import pandas as pd

    dim = 8

    def embed(batches):
        for pdf in batches:
            rows = []
            for d, lang, t in zip(pdf["doc_id"], pdf["lang"], pdf["text"]):
                v = [
                    int(hashlib.md5(f"{t}|{j}".encode()).hexdigest()[:8], 16)
                    % 1000
                    for j in range(dim)
                ]
                rows.append((int(d), str(lang), v[0], sum(v)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "lang", "c0", "all_sum"]
            )

    docs = (
        T(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 150)
        .select("doc_id", "lang", "text")
    )
    emb = docs.mapInPandas(
        embed, "doc_id long, lang string, c0 long, all_sum long"
    )
    return emb.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("c0").alias("sum_c0"),
        F.sum("all_sum").alias("sum_all"),
    )


# ---------------------------------------------------------------------------
# Combo faces: single coherent pipelines that exercise SEVERAL starved
# rows at once, so the driver's 50-slot tag-complete prefix can stay
# nearly all-fresh (40+ tags have exactly one unchecked provider — without
# bundling, the mandatory picks alone overflow the prefix).
# ---------------------------------------------------------------------------


@query(
    "j41_udf_trifecta",
    sql="""
    WITH scored AS (
      SELECT doc_id, lang,
             length(regexp_replace(lower(text), '[^aeiou]', '', 'g'))
               AS vowels,
             length(trim(regexp_replace(text, ' +', ' ', 'g'))) AS squeezed_len
      FROM documents WHERE doc_id <= 300
    )
    SELECT lang, COUNT(*) AS n,
           ROUND(sqrt(AVG(CAST(vowels * vowels AS DOUBLE))), 6) AS vowel_rms,
           CAST(SUM(squeezed_len) AS BIGINT) AS total_squeezed
    FROM scored GROUP BY lang
    """,
    tier="T3",
    survey="J1,J2,J5,J7",
)
def j41_udf_trifecta(spark, sf_dir):
    """All three UDF contracts in ONE pipeline: a SQL-registered scalar
    Python UDF (vowel count — J1 via the J7 entry point) and an
    Arrow-batched pandas UDF (whitespace squeeze — J2) compute per-doc
    features, then a grouped-agg pandas UDF (RMS — J5) reduces them per
    language. Each step pays the Python tax exactly once over Arrow
    batches; everything around them stays JVM."""
    from pyspark.sql.functions import pandas_udf

    def vowel_count(s):
        return sum(1 for ch in (s or "").lower() if ch in "aeiou")

    spark.udf.register("oeem_j41_vowels", vowel_count, "long")

    @pandas_udf("string")
    def squeeze(s):  # bare signature, see j32 note on future-annotations
        return s.str.replace(" +", " ", regex=True).str.strip()

    @pandas_udf("double")
    def rms(v: pd.Series) -> float:  # grouped-agg, from the hints
        import numpy as np

        return float(np.sqrt(np.mean(np.square(v.to_numpy(dtype="float64")))))

    docs = (
        T(spark, sf_dir, "documents")
        .where(F.col("doc_id") <= 300)
        .select("doc_id", "lang", "text")
    )
    docs.createOrReplaceTempView("j41_docs")
    scored = spark.sql(
        "SELECT doc_id, lang, text, oeem_j41_vowels(text) AS vowels "
        "FROM j41_docs"
    ).withColumn("squeezed_len", F.length(squeeze("text")))
    # a grouped-agg pandas UDF cannot share an agg() with JVM aggregates
    # (INVALID_PANDAS_UDF_PLACEMENT) — run it in its own aggregation and
    # broadcast-join the 5-row results back together
    plain = scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("squeezed_len").alias("total_squeezed"),
    )
    udaf = scored.groupBy("lang").agg(
        F.round(rms(F.col("vowels").cast("double")), 6).alias("vowel_rms")
    )
    return plain.join(F.broadcast(udaf), "lang").select(
        "lang", "n", "vowel_rms", "total_squeezed"
    )


@query(
    "i41_stream_dedup_sliding",
    sql=f"""
    WITH d AS (
      SELECT DISTINCT user_id, event_type,
             time_bucket(INTERVAL '1 hour', {_CAST_TS}) AS hr
      FROM events
    ),
    cand AS (
      SELECT unnest([hr, hr - INTERVAL '1 hour']) AS window_start, user_id
      FROM d
    )
    SELECT window_start, COUNT(*) AS active_pairs
    FROM cand GROUP BY window_start
    """,
    tier="T3",
    survey="I2,I5,I8",
)
def i41_stream_dedup_sliding(spark, sf_dir):
    """Streaming dedup FEEDING a sliding window in one query: state
    dedups (user, type, hour) triples as they stream, then 2h/1h sliding
    windows count the deduped activity pairs — the chained-stateful
    topology (dedup state + window state in the same streaming plan)
    that neither i5 nor i19 exercises alone."""
    from oeem_etl_spark.streaming import harness, ops
    from oeem_etl_spark.streaming.source import events_stream

    sdf = events_stream(spark, sf_dir).select(
        "user_id", "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    )
    deduped = ops.dedup_keys(sdf, ["user_id", "event_type", "hr"])
    out = ops.sliding_agg(
        deduped,
        "2 hours",
        "1 hour",
        [],
        [F.count(F.lit(1)).alias("active_pairs")],
        ts_col="hr",
    )
    return harness.run_available_now(out, "complete")


@query(
    "a45_fetch_csv_normalize",
    sql="""
    SELECT lang AS language,
           upper(lang) AS lang_uc,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents WHERE doc_id <= 500 AND n_chars >= 100
    GROUP BY lang
    """,
    tier="T2",
    survey="A11,A12,A2,A7,B1,B5,B3",
)
def a45_fetch_csv_normalize(spark, sf_dir):
    """Fetch tier + CSV scan/sink + the rename/cast/filter parse stage as
    ONE pipeline (the reference's ingest loop with a real cleanup pass,
    where a44 parses verbatim): CSV shards land through a flaky
    transport, the parse stage renames lang→language, casts the n_chars
    field from its string CSV form, filters short docs, and the rollup
    uploads through a flaky chunked datastore."""
    import functools
    import shutil

    from oeem_etl_spark.sources import fetch as fx
    from oeem_etl_spark.sources import upload as up

    root = os.path.join(
        _TMP, f"a45_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    shutil.rmtree(root, ignore_errors=True)
    remote = os.path.join(root, "remote")
    fstate = os.path.join(root, "fstate")
    ustate = os.path.join(root, "ustate")
    landing = os.path.join(root, "landing")
    dsroot = os.path.join(root, "ds")
    for d in (remote, fstate, ustate):
        os.makedirs(d, exist_ok=True)

    docs = (
        T(spark, sf_dir, "documents")
        .where(F.col("doc_id") <= 500)
        .select("lang", "n_chars")
    )
    docs.repartition(3).write.mode("overwrite").option("header", True).csv(
        remote
    )
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

    # parse stage: STRING schema on purpose (the raw-feed case), then
    # rename + cast + filter — the B1/B5/B3 cleanup pass
    raw = spark.read.option("header", True).schema(
        "lang string, n_chars string"
    ).csv(landing)
    clean = (
        raw.withColumnRenamed("lang", "language")
        .withColumn("n_chars", F.col("n_chars").cast("long"))
        .where(F.col("n_chars") >= 100)
    )
    agg = clean.groupBy("language").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    ).select(
        "language",
        F.upper("language").alias("lang_uc"),
        "n_docs",
        "total_chars",
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
    state = up.FilesystemDatastore(dsroot).state("language", "seq")
    rows = [
        (
            str(v["language"]),
            str(v["lang_uc"]),
            int(v["n_docs"]),
            int(v["total_chars"]),
        )
        for v in state.values()
    ]
    return local_frame(
        spark,
        rows, "language string, lang_uc string, n_docs long, total_chars long"
    )


@query(
    "a46_json_try_profile",
    sql="""
    SELECT event_id,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
           TRY_CAST(json_extract_string(payload, '$.tag') AS BIGINT)
             AS tag_num,
           json_extract_string(payload, '$.kind') AS kind
    FROM (
      SELECT event_id, props,
             to_json(struct_pack(
               kind := event_type,
               tag := CASE WHEN user_id % 2 = 0
                           THEN CAST(user_id AS VARCHAR)
                           ELSE event_type END)) AS payload
      FROM events WHERE event_id <= 500
    )
    """,
    tier="T2",
    survey="A3,B7,H12,H13,B6",
)
def a46_json_try_profile(spark, sf_dir):
    """ndjson sink/scan + try_-family profiling in one pipeline: the
    payload's ``tag`` field is INTENTIONALLY mixed-type (numeric string
    for even users, enum for odd), so the reader must combine JSON path
    extraction with try_cast NULL-lanes instead of aborting under ANSI —
    the schema-drift triage pass a raw-feed ingest runs."""
    ev = (
        T(spark, sf_dir, "events")
        .where(F.col("event_id") <= 500)
        .select(
            "event_id",
            "props",
            F.to_json(
                F.struct(
                    F.col("event_type").alias("kind"),
                    F.when(
                        F.col("user_id") % 2 == 0,
                        F.col("user_id").cast("string"),
                    )
                    .otherwise(F.col("event_type"))
                    .alias("tag"),
                )
            ).alias("payload"),
        )
    )
    path = os.path.join(_TMP, "a46_json")
    ev.write.mode("overwrite").json(path)
    back = spark.read.schema(
        "event_id BIGINT, props STRING, payload STRING"
    ).json(path)
    return back.select(
        "event_id",
        F.get_json_object("props", "$.k").try_cast("long").alias("k_num"),
        F.get_json_object("payload", "$.tag")
        .try_cast("long")
        .alias("tag_num"),
        F.get_json_object("payload", "$.kind").alias("kind"),
    )


@query(
    "e31_frame_page",
    sql="""
    WITH fr AS (
      SELECT o_orderkey, o_custkey,
             nth_value(o_orderkey, 2) OVER w AS second_order,
             last_value(o_orderkey) OVER w AS last_order
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING)
    )
    SELECT o_orderkey, o_custkey, second_order, last_order
    FROM fr ORDER BY o_custkey, o_orderkey
    LIMIT 40 OFFSET 120
    """,
    tier="T2",
    survey="E4,E3,F2",
)
def e31_frame_page(spark, sf_dir):
    """nth_value/last over a full-partition frame, then page 4 of the
    result under a total order — window frames COMPOSED with offset
    pagination (the report-export shape), in one plan."""
    o = T(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    fr = o.select(
        "o_orderkey",
        "o_custkey",
        F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
    )
    return fr.orderBy("o_custkey", "o_orderkey").offset(120).limit(40)
