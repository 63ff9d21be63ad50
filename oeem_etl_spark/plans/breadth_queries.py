"""Second-face queries for thin §2 rows (round 5).

After four driver rounds, 30 SURVEY §2 tags had no never-driver-checked
query left (tools/gen_driver_checked.py ledger), which capped rotation:
the 50-slot prefix could not be simultaneously tag-complete and fresh.
Every query here gives one of those rows a NEW independently-shaped face
— different fixtures, different compositions than the row's anchor query
— so rotation keeps certifying fresh evidence each round.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import Window
from pyspark.sql import functions as F

from oeem_etl_spark.catalog import local_frame
from oeem_etl_spark.functions import udfs
from oeem_etl_spark.plans.registry import query
from oeem_etl_spark.plans.util import T, dsum, sql_dsum

_TMP = os.path.join(tempfile.gettempdir(), f"oeem_etl_spark_breadth_{os.getpid()}")

_CAST_TS = "CAST(ts AS TIMESTAMP)"


@query(
    "a31_csv_rename_prune",
    sql="""
    SELECT l_orderkey AS okey, l_linenumber AS line,
           CAST(l_quantity AS BIGINT) AS qty
    FROM lineitem WHERE l_orderkey <= 300
    """,
    tier="T2",
    survey="A2,A7,B1,B5,B7",
)
def a31_csv_rename_prune(spark, sf_dir):
    """CSV sink + schema'd scan-back, then the rename/cast/prune trio:
    write 3 of lineitem's 16 columns, read with an explicit schema,
    rename two, cast the decimal-ish quantity to BIGINT, and drop nothing
    implicitly (the projection IS the drop)."""
    sub = (
        T(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") <= 300)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )
    path = os.path.join(_TMP, "a31_csv")
    sub.write.mode("overwrite").option("header", True).csv(path)
    back = spark.read.option("header", True).schema(
        "l_orderkey BIGINT, l_linenumber INT, l_quantity DOUBLE"
    ).csv(path)
    return (
        back.withColumnRenamed("l_orderkey", "okey")
        .withColumnRenamed("l_linenumber", "line")
        .select("okey", "line", F.col("l_quantity").cast("long").alias("qty"))
    )


@query(
    "a32_json_map_struct",
    sql="""
    SELECT event_id,
           event_type AS kind,
           CAST(round(value * 1000000) AS BIGINT) AS value_micros,
           event_type || ':' || CAST(user_id AS VARCHAR) AS tagged
    FROM events WHERE event_id <= 300
    """,
    tier="T2",
    survey="A3,H10,H11",
)
def a32_json_map_struct(spark, sf_dir):
    """ndjson sink/scan carrying a NESTED payload: each event round-trips
    as a struct {kind, value_micros} inside a single-entry map keyed by
    user — the schema'd JSON read must reassemble map and struct exactly,
    then map/struct accessors (element_at, field refs) flatten it back."""
    ev = (
        T(spark, sf_dir, "events")
        .where(F.col("event_id") <= 300)
        .select(
            "event_id",
            "user_id",
            F.create_map(
                F.col("user_id").cast("string"),
                F.struct(
                    F.col("event_type").alias("kind"),
                    F.round(F.col("value") * 1_000_000)
                    .cast("long")
                    .alias("value_micros"),
                ),
            ).alias("payload"),
        )
    )
    path = os.path.join(_TMP, "a32_json")
    ev.write.mode("overwrite").json(path)
    back = spark.read.schema(
        "event_id BIGINT, user_id BIGINT, "
        "payload MAP<STRING, STRUCT<kind: STRING, value_micros: BIGINT>>"
    ).json(path)
    entry = F.element_at(F.col("payload"), F.col("user_id").cast("string"))
    return back.select(
        "event_id",
        entry["kind"].alias("kind"),
        entry["value_micros"].alias("value_micros"),
        F.concat(
            entry["kind"], F.lit(":"), F.map_keys("payload")[0]
        ).alias("tagged"),
    )


@query(
    "a33_inmemory_ordered_extremes",
    sql=f"""
    WITH ranked AS (
      SELECT event_type, event_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY {_CAST_TS}, event_id) AS rn_a,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY {_CAST_TS} DESC, event_id DESC) AS rn_d
      FROM events
    ),
    ext AS (
      SELECT event_type,
             MAX(CASE WHEN rn_a = 1 THEN event_id END) AS first_event,
             MAX(CASE WHEN rn_d = 1 THEN event_id END) AS last_event
      FROM ranked GROUP BY event_type
    )
    SELECT e.event_type, w.weight, e.first_event, e.last_event
    FROM ext e
    JOIN (VALUES ('view', 1), ('click', 3), ('purchase', 10),
                 ('signup', 5), ('error', 0)) AS w(event_type, weight)
      ON e.event_type = w.event_type
    """,
    tier="T2",
    survey="A5,D4,C9",
)
def a33_inmemory_ordered_extremes(spark, sf_dir):
    """In-memory (driver-literal) dimension joined to the event stream,
    then ordered first/last per type via min_by/max_by on a composite
    (ts, id) key — total order, so the extremes are deterministic even
    with duplicate timestamps."""
    weights = local_frame(
        spark,
        [("view", 1), ("click", 3), ("purchase", 10), ("signup", 5), ("error", 0)],
        "event_type string, weight int",
    )
    ev = T(spark, sf_dir, "events")
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.join(F.broadcast(weights), "event_type")
        .groupBy("event_type", "weight")
        .agg(
            F.min_by("event_id", key).alias("first_event"),
            F.max_by("event_id", key).alias("last_event"),
        )
    )


@query(
    "c32_interval_overlap_quarters",
    sql="""
    WITH spans AS (
      SELECT o_custkey, o_orderdate AS s,
             o_orderdate + INTERVAL '30 days' AS e
      FROM orders WHERE o_orderkey <= 2000
    ),
    q AS (
      SELECT * FROM (VALUES
        ('q1', TIMESTAMP '1995-01-01', TIMESTAMP '1995-03-31'),
        ('q2', TIMESTAMP '1995-04-01', TIMESTAMP '1995-06-30'),
        ('q3', TIMESTAMP '1995-07-01', TIMESTAMP '1995-09-30'),
        ('q4', TIMESTAMP '1995-10-01', TIMESTAMP '1995-12-31'))
        AS q(label, qs, qe)
    )
    SELECT q.label, COUNT(*) AS n_spans,
           COUNT(DISTINCT o_custkey) AS n_custs
    FROM spans JOIN q ON spans.s <= q.qe AND q.qs <= spans.e
    GROUP BY q.label ORDER BY q.label
    """,
    tier="T2",
    survey="C7,D2,C9",
)
def c32_interval_overlap_quarters(spark, sf_dir):
    """Interval-overlap join, second face: 30-day order-activity spans
    against the 1995 quarter windows (half-open-free overlap predicate
    s1 <= e2 AND s2 <= e1); the quarter side is 4 rows — broadcast, so
    the span side never shuffles for the join."""
    o = (
        T(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 2000)
        .select(
            "o_custkey",
            F.col("o_orderdate").alias("s"),
            (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("e"),
        )
    )
    q = local_frame(
        spark,
        [
            ("q1", "1995-01-01", "1995-03-31"),
            ("q2", "1995-04-01", "1995-06-30"),
            ("q3", "1995-07-01", "1995-09-30"),
            ("q4", "1995-10-01", "1995-12-31"),
        ],
        "label string, qs_s string, qe_s string",
    ).select(
        "label",
        F.col("qs_s").cast("timestamp").alias("qs"),
        F.col("qe_s").cast("timestamp").alias("qe"),
    )
    return (
        o.join(
            F.broadcast(q),
            (F.col("s") <= F.col("qe")) & (F.col("qs") <= F.col("e")),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.count_distinct("o_custkey").alias("n_custs"),
        )
        .orderBy("label")
    )


@query(
    "c33_bloom_pruned_parts",
    sql="""
    SELECT l.l_partkey, COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size >= 48
    GROUP BY l.l_partkey
    """,
    tier="T2",
    survey="C11,C9,D1",
)
def c33_bloom_pruned_parts(spark, sf_dir):
    """Bloom-pruned fact⋈dim, second face (m1 prunes on suppkey): large
    parts (p_size >= 48) build an exact-membership bloom side that
    pre-filters lineitem BEFORE the join shuffle — the semi-join
    reduction a 100 TB fact scan needs when the dim predicate is
    selective. False positives are removed by the real join; results are
    therefore exact."""
    from oeem_etl_spark.operators.pruning import bloom_pruned_join

    li = T(spark, sf_dir, "lineitem").select(
        "l_partkey", F.col("l_quantity").cast("long").alias("qty")
    )
    dim = (
        T(spark, sf_dir, "part")
        .where(F.col("p_size") >= 48)
        .select(F.col("p_partkey").alias("l_partkey"))
    )
    joined = bloom_pruned_join(li, F.broadcast(dim), on="l_partkey")
    return joined.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("qty").alias("total_qty"),
    )


@query(
    "d34_pivot_unpivot_roundtrip",
    sql=f"""
    SELECT user_id % 8 AS bucket, event_type,
           {sql_dsum("value", "total")}
    FROM events
    WHERE event_type IN ('view', 'click', 'purchase')
    GROUP BY bucket, event_type
    """,
    tier="T2",
    survey="D13,D14,D1",
)
def d34_pivot_unpivot_roundtrip(spark, sf_dir):
    """Pivot then unpivot as an algebraic round trip: per-bucket event
    sums pivot to (bucket, view, click, purchase) wide form, then
    unpivot (stack) back to long form — the result must equal the
    direct aggregation, which is exactly what the oracle computes.
    Null cells (bucket x type combos absent in the data) drop on the
    way back, matching the direct group-by's row set."""
    ev = T(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "click", "purchase")
    )
    wide = (
        ev.select(
            (F.col("user_id") % 8).alias("bucket"),
            "event_type",
            F.round(F.col("value") * 1_000_000).cast("long").alias("vm"),
        )
        .groupBy("bucket")
        .pivot("event_type", ["view", "click", "purchase"])
        .agg(F.sum("vm"))
    )
    long = wide.unpivot(
        ["bucket"], ["view", "click", "purchase"], "event_type", "vm"
    ).where(F.col("vm").isNotNull())
    return long.select(
        "bucket",
        "event_type",
        F.round(F.col("vm") / 1_000_000.0, 6).alias("total"),
    )


@query(
    "e12_frame_first_last_nth",
    sql="""
    SELECT o_orderkey,
           first_value(o_orderkey) OVER w AS cheapest,
           last_value(o_orderkey) OVER w AS priciest,
           nth_value(o_orderkey, 3) OVER w AS third
    FROM orders
    WHERE o_orderkey <= 2000
    WINDOW w AS (
      PARTITION BY o_orderpriority
      ORDER BY o_totalprice, o_orderkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    tier="T2",
    survey="E4,E1",
)
def e12_frame_first_last_nth(spark, sf_dir):
    """first/last/nth over an explicit UNBOUNDED..UNBOUNDED frame, second
    face: per priority class, every order row sees the cheapest, the
    priciest, and the third-cheapest order key (total order via the
    (price, key) sort, so nth is deterministic)."""
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_totalprice", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    o = T(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 2000)
    return o.select(
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("cheapest"),
        F.last("o_orderkey").over(w).alias("priciest"),
        F.nth_value("o_orderkey", 3).over(w).alias("third"),
    )


@query(
    "f5_offset_page",
    sql="""
    SELECT o_orderkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100 OFFSET 200
    """,
    tier="T2",
    survey="F2,F1",
)
def f5_offset_page(spark, sf_dir):
    """Page 3 of the price-ranked order book via the native
    offset().limit() pipeline (not a row_number re-implementation) — the
    pagination face of F2 under a total order."""
    return (
        T(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .select("o_orderkey", "o_totalprice")
        .offset(200)
        .limit(100)
    )


@query(
    "g9_union_distinct_regions",
    sql="""
    SELECT nat FROM (
      SELECT n_name AS nat FROM nation JOIN customer ON c_nationkey = n_nationkey
      UNION
      SELECT n_name AS nat FROM nation JOIN supplier ON s_nationkey = n_nationkey
    ) ORDER BY nat
    """,
    tier="T2",
    survey="G2,C1",
)
def g9_union_distinct_regions(spark, sf_dir):
    """UNION (distinct) of two derived key sets — nations that have
    customers or suppliers — the set-semantics face next to g1's
    UNION ALL."""
    n = T(spark, sf_dir, "nation")
    c = T(spark, sf_dir, "customer")
    s = T(spark, sf_dir, "supplier")
    a = n.join(c, n.n_nationkey == c.c_nationkey).select(
        F.col("n_name").alias("nat")
    )
    b = n.join(s, n.n_nationkey == s.s_nationkey).select(
        F.col("n_name").alias("nat")
    )
    return a.union(b).distinct().orderBy("nat")


@query(
    "h31_try_element_access",
    sql="""
    SELECT event_id,
           string_split(props, ',')[2] AS second_prop,
           TRY_CAST(string_split(props, ',')[5] AS INTEGER) AS fifth_as_int,
           COALESCE(TRY_CAST(event_type AS DOUBLE), -1.0) AS type_num
    FROM events WHERE event_id <= 1500
    """,
    tier="T2",
    survey="H13,H7,B6",
)
def h31_try_element_access(spark, sf_dir):
    """Error-safe access family, second face: out-of-bounds array element
    (NULL, not error — try_element_at), unparseable casts under pinned
    ANSI mode (try_cast), and the coalesce fallback idiom."""
    ev = T(spark, sf_dir, "events").where(F.col("event_id") <= 1500)
    parts = F.split(F.col("props"), ",")
    return ev.select(
        "event_id",
        F.try_element_at(parts, F.lit(2)).alias("second_prop"),
        F.try_element_at(parts, F.lit(5)).cast("int").alias("fifth_as_int"),
        F.coalesce(
            F.col("event_type").try_cast("double"), F.lit(-1.0)
        ).alias("type_num"),
    )


@query(
    "j13_udf_vowel_count",
    sql="""
    SELECT doc_id,
           CAST(length(lang) - length(regexp_replace(lang, '[aeiou]', '', 'g'))
                AS INTEGER) AS vowels
    FROM documents WHERE doc_id <= 400
    """,
    tier="T2",
    survey="J1,H2",
)
def j13_udf_vowel_count(spark, sf_dir):
    """Arrow scalar UDF, second face: per-string vowel count (the shape of
    any Python featurizer); the oracle recovers the same number with
    regex algebra."""
    d = T(spark, sf_dir, "documents").where(F.col("doc_id") <= 400)
    return d.select("doc_id", udfs.vowel_count(F.col("lang")).alias("vowels"))


@query(
    "j14_pandas_udf_clip",
    sql="""
    SELECT event_id, LEAST(GREATEST(value, 0.0), 50.0) AS clipped
    FROM events WHERE event_id <= 1000
    """,
    tier="T2",
    survey="J2,H5",
)
def j14_pandas_udf_clip(spark, sf_dir):
    """Vectorized pandas UDF, second face: winsorize value to [0, 50]
    over Arrow batches; LEAST/GREATEST is the oracle algebra."""
    ev = T(spark, sf_dir, "events").where(F.col("event_id") <= 1000)
    return ev.select(
        "event_id", udfs.clip_value(F.col("value")).alias("clipped")
    )


@query(
    "k55_parse_epoch_micros",
    sql=f"""
    SELECT event_id,
           make_timestamp(epoch_us({_CAST_TS})) AS parsed
    FROM events WHERE event_id <= 1200
    """,
    tier="T2",
    survey="K2,H4",
)
def k55_parse_epoch_micros(spark, sf_dir):
    """Epoch-integer → timestamp parsing, second face (k2 parses strings):
    serialize each event time to integer epoch microseconds, then
    reconstruct the timestamp from the integer — the log-ingest path
    where times arrive as numbers. Round-trip must be exact at µs."""
    ev = T(spark, sf_dir, "events").where(F.col("event_id") <= 1200)
    epoch = F.unix_micros(F.col("ts"))
    return ev.select(
        "event_id",
        F.timestamp_micros(epoch).alias("parsed"),
    )


@query(
    "k56_dedupe_latest_reading",
    sql=f"""
    SELECT user_id, event_type, event_id AS latest_event, value AS latest_value
    FROM (
      SELECT user_id, event_type, event_id, value,
             row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY {_CAST_TS} DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    tier="T2",
    survey="K5,D12,E1",
)
def k56_dedupe_latest_reading(spark, sf_dir):
    """Keep-latest record dedupe, second face: one surviving reading per
    (user, event type) by (ts, event_id) recency — the meter-reading
    correction semantics (late re-sends replace earlier values)."""
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ev = T(spark, sf_dir, "events")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("latest_event"),
            F.col("value").alias("latest_value"),
        )
    )


@query(
    "k57_align_month_windows",
    sql=f"""
    SELECT e.event_id, m.label AS month_label
    FROM events e
    ASOF LEFT JOIN (VALUES ('m1', TIMESTAMP '2024-01-01'),
                           ('m2', TIMESTAMP '2024-02-01'),
                           ('m3', TIMESTAMP '2024-03-01'))
         AS m(label, boundary)
      ON m.boundary <= {_CAST_TS}
    WHERE e.event_id <= 3000
    """,
    tier="T2",
    survey="K7,C8",
)
def k57_align_month_windows(spark, sf_dir):
    """Interval alignment, second face: events align to month starts via
    the keyless as-of (k7 aligns to project periods); events before the
    first boundary keep a NULL label (LEFT as-of semantics). Broadcast
    interval-join form (asof_align_broadcast): the month dim broadcasts,
    the fact side never shuffles for the alignment."""
    from oeem_etl_spark.operators.relational import asof_align_broadcast

    ev = (
        T(spark, sf_dir, "events")
        .where(F.col("event_id") <= 3000)
        .select("event_id", "ts")
    )
    months = local_frame(
        spark,
        [("m1", "2024-01-01"), ("m2", "2024-02-01"), ("m3", "2024-03-01")],
        "month_label STRING, boundary_s STRING",
    ).select(
        "month_label",
        F.col("boundary_s").cast("timestamp").alias("boundary"),
    )
    out = asof_align_broadcast(
        ev,
        months,
        left_ts="ts",
        right_ts="boundary",
        value_cols=["month_label"],
    )
    return out.select("event_id", "month_label")


@query(
    "l9d_embed_l2_micros",
    # md5-projection embedding; per-component squares summed as exact
    # integers (components < 1000, dim 8 -> max 8e6, no overflow), so the
    # L2^2 "norm" is integer-exact on both engines.
    sql="""
    WITH emb AS (
      SELECT doc_id,
             list_transform(generate_series(0, 7), j ->
               CAST(concat('0x', substr(md5(text || '|' || CAST(j AS VARCHAR)), 1, 8))
                    AS UBIGINT) % 1000) AS v
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS l2sq_micros,
           CAST(list_max(v) AS BIGINT) AS max_comp
    FROM emb
    """,
    tier="T3",
    survey="L9,J4,H6",
)
def l9d_embed_l2_micros(spark, sf_dir):
    """Embed-batch surface, third face: the Arrow-batched mapInPandas
    encoder emits integer-component md5-projection vectors and the query
    reports their exact integer L2² and max component — value-checked
    proof that the batch plumbing preserves every component (l9b checks
    sums; this face catches per-component corruption)."""
    import hashlib

    import pandas as pd

    dim = 8

    def embed(batches):
        for pdf in batches:
            rows = []
            for d, t in zip(pdf["doc_id"], pdf["text"]):
                v = [
                    int(hashlib.md5(f"{t}|{j}".encode()).hexdigest()[:8], 16)
                    % 1000
                    for j in range(dim)
                ]
                rows.append((int(d), sum(x * x for x in v), max(v)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "l2sq_micros", "max_comp"]
            )

    docs = (
        T(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    return docs.mapInPandas(
        embed, "doc_id long, l2sq_micros long, max_comp long"
    )


# ---------------------------------------------------------------------------
# Streaming faces (same availableNow batch-equivalence harness as i1/i2)
# ---------------------------------------------------------------------------


@query(
    "i18_stream_daily_user_buckets",
    sql=f"""
    SELECT CAST(date_trunc('day', {_CAST_TS}) AS TIMESTAMP) AS window_start,
           user_id % 16 AS ubucket,
           COUNT(*) AS cnt,
           {sql_dsum("value", "sum_value")}
    FROM events GROUP BY window_start, ubucket
    """,
    tier="T3",
    survey="I1,I8,A9",
)
def i18_stream_daily_user_buckets(spark, sf_dir):
    """Streaming file source + DAILY tumbling window keyed by a derived
    user bucket (i1 keys by event type, hourly) — a second shape through
    the same availableNow batch-equivalence harness."""
    from oeem_etl_spark.streaming import harness, ops
    from oeem_etl_spark.streaming.source import events_stream

    sdf = events_stream(spark, sf_dir).withColumn(
        "ubucket", F.col("user_id") % 16
    )
    out = ops.tumbling_agg(
        sdf,
        "1 day",
        ["ubucket"],
        [F.count(F.lit(1)).alias("cnt"), dsum("value", "sum_value")],
    )
    return harness.run_available_now(out, "complete")


@query(
    "i19_stream_sliding_2h",
    sql=f"""
    WITH cand AS (
      SELECT unnest([time_bucket(INTERVAL '1 hour', {_CAST_TS}),
                     time_bucket(INTERVAL '1 hour', {_CAST_TS}) - INTERVAL '1 hour'
                    ]) AS window_start,
             user_id % 4 AS ub, value
      FROM events
    )
    SELECT window_start, ub, COUNT(*) AS cnt, {sql_dsum("value", "sum_value")}
    FROM cand GROUP BY window_start, ub
    """,
    tier="T3",
    survey="I2",
)
def i19_stream_sliding_2h(spark, sf_dir):
    """2-hour windows sliding hourly over user buckets (i2 slides 30 min
    over event types) — each event lands in exactly two windows, which
    the oracle models as the two candidate bucket starts."""
    from oeem_etl_spark.streaming import harness, ops
    from oeem_etl_spark.streaming.source import events_stream

    sdf = events_stream(spark, sf_dir).withColumn("ub", F.col("user_id") % 4)
    out = ops.sliding_agg(
        sdf,
        "2 hours",
        "1 hour",
        ["ub"],
        [F.count(F.lit(1)).alias("cnt"), dsum("value", "sum_value")],
    )
    return harness.run_available_now(out, "complete")


@query(
    "a36_fetch_upload_by_type",
    sql=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {sql_dsum("value", "total_value")}
    FROM events WHERE event_id <= 1500
    GROUP BY event_type
    """,
    tier="T2",
    survey="A11,A12",
)
def a36_fetch_upload_by_type(spark, sf_dir):
    """Fetch -> parse -> aggregate -> bulk-upsert, second face: shards
    split BY EVENT TYPE (5 uneven shards vs a14's 4 uniform buckets),
    both transport edges still fail each unit's first attempt, and the
    result is again the mock datastore's materialized state — retry +
    idempotency proven on a skewed shard layout."""
    import functools
    import shutil

    from oeem_etl_spark.sources import fetch as fx
    from oeem_etl_spark.sources import upload as up

    root = os.path.join(_TMP, f"a36_{os.path.basename(sf_dir.rstrip('/'))}")
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
        .where(F.col("event_id") <= 1500)
        .select("event_type", "value")
    )
    ev.repartition(5, "event_type").write.mode("overwrite").option(
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
        fx.local_flaky_fetcher, remote=remote, fail_times=1, state_dir=fstate
    )
    fx.check_fetched(fx.fetch_to_landing(tasks, ffactory, landing))

    raw = spark.read.option("header", True).schema(
        "event_type string, value double"
    ).csv(landing)
    agg = raw.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.round(F.col("value") * 1_000_000).cast("long"))
            / F.lit(1_000_000.0),
            6,
        ).alias("total_value"),
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
    state = up.FilesystemDatastore(dsroot).state("event_type", "seq")
    rows = [
        (str(v["event_type"]), int(v["n_events"]), float(v["total_value"]))
        for v in state.values()
    ]
    return local_frame(
        spark,
        rows, "event_type string, n_events long, total_value double"
    )
