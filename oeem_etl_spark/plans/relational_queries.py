"""Declared relational queries (SURVEY.md §2.A/B/C/D/E/F/G).

Each query exercises one contract row (noted in ``survey=``) and ships a
DuckDB oracle. Determinism rules from SURVEY.md §7.4 are applied
throughout: decimal-accumulated float sums (plans/util.py), explicit null
ordering, total orders under every LIMIT, no engine-divergent calendar
functions.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from oeem_etl_spark.catalog import local_frame
from oeem_etl_spark.operators.relational import (
    asof_join,
    dedupe_keep_latest,
    dedupe_keep_latest_by,
    interval_overlap_join,
    merge_upsert,
    topk_per_group,
)
from oeem_etl_spark.operators import quality as quality_ops
from oeem_etl_spark.plans.registry import query
from oeem_etl_spark.plans.util import T, davg, dsum, sql_davg, sql_dsum
from oeem_etl_spark.functions.fixedpoint import qlong

# ---------------------------------------------------------------------------
# Flagship + headline queries
# ---------------------------------------------------------------------------


@query(
    "q01_pricing_summary",
    sql=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity', 'sum_qty')},
           {sql_dsum('l_extendedprice', 'sum_base_price')},
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
           {sql_davg('l_quantity', 'avg_qty')},
           {sql_davg('l_extendedprice', 'avg_price')},
           {sql_davg('l_discount', 'avg_disc')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tier="T1",
    survey="A1,B2,B3,D1,F1",
)
def q01_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style pricing summary: the flagship scan→filter→agg→sort."""
    li = T(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    # this SEVEN-aggregate battery is the one site where the primitive
    # qlong form measured SLOWER than F.round at 32 threads (two
    # interleaved A/Bs: round 0.34/0.60 s min vs qlong 0.48/0.79);
    # single-site queries keep qlong (q02 A/B: qlong wins there).
    q = dict(quantizer="round")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty", **q),
            dsum("l_extendedprice", "sum_base_price", **q),
            dsum(disc_price, "sum_disc_price", **q),
            dsum(charge, "sum_charge", **q),
            davg("l_quantity", "avg_qty", **q),
            davg("l_extendedprice", "avg_price", **q),
            davg("l_discount", "avg_disc", **q),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q02_top_revenue_customers",
    sql=f"""
    SELECT c_custkey, c_name,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 10
    """,
    tier="T1",
    survey="C1,C9,D1,F3",
)
def q02_top_revenue_customers(spark, sf_dir):
    """3-way join + agg + global top-k; both dimension sides broadcast (C9).

    Scale notes: project each side to exactly the needed columns BEFORE the
    join so the parquet scans are 2-3 columns wide (verify via ReadSchema in
    explain); broadcasting orders keeps the 100×-bigger lineitem side
    shuffle-free — at cluster scale where orders outgrows the broadcast
    threshold, AQE falls back to sort-merge automatically.
    """
    cust = T(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = T(spark, sf_dir, "lineitem")
    rev_m = qlong(F.col("l_extendedprice") * (1 - F.col("l_discount")), 1_000_000)
    # Aggregate in integer micros and keep the (wide, string-carrying)
    # customer join AFTER the top-10: the limit sees only (custkey, micros)
    # longs, and names attach to 10 rows instead of 600k. Ordering by raw
    # micros is exactly the ordering by round(micros/1e6, 6) — a value with
    # exactly 6 decimals round-trips round() unchanged — so the top-10 cut
    # is identical. Measured 0.88 -> 0.61 s at sf0.1 (bench regime).
    agg = (
        li.select("l_orderkey", rev_m.alias("rv_m"))
        .join(F.broadcast(orders), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.sum("rv_m").alias("rv_m"))
    )
    top = (
        agg.orderBy(F.col("rv_m").desc(), F.col("o_custkey"))
        .limit(10)
        .select("o_custkey", F.round(F.col("rv_m") / 1_000_000.0, 6).alias("revenue"))
    )
    return (
        top.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "revenue")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
    )


@query(
    "q03_hourly_rollup",
    sql=f"""
    SELECT date_trunc('hour', ts) AS hour,
           COUNT(*) AS n_events,
           {sql_dsum('value', 'total_value')}
    FROM events
    GROUP BY hour
    """,
    tier="T1",
    survey="D1,H4,K3",
)
def q03_hourly_rollup(spark, sf_dir):
    """Hourly time-bucket rollup on the event stream (batch form of I1)."""
    ev = T(spark, sf_dir, "events")
    return ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "total_value"),
    )


# ---------------------------------------------------------------------------
# 2.A sources (SQL-checkable ones)
# ---------------------------------------------------------------------------


@query(
    "a1_parquet_scan",
    sql="SELECT r_regionkey, r_name FROM region",
    tier="T1",
    survey="A1",
)
def a1_parquet_scan(spark, sf_dir):
    """Bare parquet scan with projection."""
    return T(spark, sf_dir, "region").select("r_regionkey", "r_name")


@query(
    "a5_inline_values",
    sql="""
    SELECT r_name, t.code
    FROM region
    JOIN (VALUES (0, 'alpha'), (1, 'beta'), (3, 'gamma')) AS t(rk, code)
      ON r_regionkey = t.rk
    """,
    tier="T1",
    survey="A5,C9",
)
def a5_inline_values(spark, sf_dir):
    """In-memory literal source joined (broadcast) to a scanned table."""
    lit = local_frame(
        spark,
        [(0, "alpha"), (1, "beta"), (3, "gamma")], "rk INT, code STRING"
    )
    region = T(spark, sf_dir, "region")
    return region.join(F.broadcast(lit), region.r_regionkey == lit.rk).select(
        "r_name", "code"
    )


# ---------------------------------------------------------------------------
# 2.B row ops
# ---------------------------------------------------------------------------


@query(
    "b1_project_rename",
    sql="""
    SELECT c_custkey AS cust_id, c_name AS cust_name, c_acctbal AS balance
    FROM customer WHERE c_custkey <= 500
    """,
    tier="T1",
    survey="B1,B7",
)
def b1_project_rename(spark, sf_dir):
    """Projection, rename, column drop (schema standardization core)."""
    return (
        T(spark, sf_dir, "customer")
        .where(F.col("c_custkey") <= 500)
        .withColumnRenamed("c_custkey", "cust_id")
        .withColumnRenamed("c_name", "cust_name")
        .withColumn("balance", F.col("c_acctbal"))
        .drop("c_nationkey", "c_mktsegment", "c_acctbal")
    )


@query(
    "b2_derived_column",
    sql="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue,
           l_quantity * 2.0 + 1.0 AS qty2
    FROM lineitem WHERE l_orderkey <= 300
    """,
    tier="T1",
    survey="B2",
)
def b2_derived_column(spark, sf_dir):
    """Computed expressions: identical IEEE double arithmetic both engines."""
    return (
        T(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") <= 300)
        .withColumn("revenue", F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .withColumn("qty2", F.col("l_quantity") * 2.0 + 1.0)
        .select("l_orderkey", "l_linenumber", "revenue", "qty2")
    )


@query(
    "b3_filter_predicates",
    sql="""
    SELECT o_orderkey FROM orders
    WHERE o_orderstatus IN ('F', 'O')
      AND o_totalprice BETWEEN 10000 AND 200000
      AND o_orderpriority LIKE '%URGENT%'
      AND regexp_matches(o_orderpriority, '^[12]-')
      AND o_orderdate IS NOT NULL
    """,
    tier="T1",
    survey="B3",
)
def b3_filter_predicates(spark, sf_dir):
    """Filter battery: IN / BETWEEN / LIKE / RLIKE / IS NOT NULL."""
    o = T(spark, sf_dir, "orders")
    return o.where(
        F.col("o_orderstatus").isin("F", "O")
        & F.col("o_totalprice").between(10000, 200000)
        & F.col("o_orderpriority").like("%URGENT%")
        & F.col("o_orderpriority").rlike("^[12]-")
        & F.col("o_orderdate").isNotNull()
    ).select("o_orderkey")


@query(
    "b4_case_when",
    sql=f"""
    SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'high'
                WHEN o_orderpriority = '3-MEDIUM' THEN 'mid'
                ELSE 'low' END AS urgency,
           COUNT(*) AS n,
           {sql_dsum('o_totalprice', 'total')}
    FROM orders GROUP BY urgency
    """,
    tier="T1",
    survey="B4,D1",
)
def b4_case_when(spark, sf_dir):
    urgency = (
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "mid")
        .otherwise("low")
    )
    return (
        T(spark, sf_dir, "orders")
        .groupBy(urgency.alias("urgency"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "total"))
    )


@query(
    "b5_cast_coerce",
    sql="""
    SELECT l_orderkey,
           CAST(FLOOR(l_quantity) AS BIGINT) AS qty_int,
           CAST(l_linenumber AS DOUBLE) AS ln_dbl,
           CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_str
    FROM lineitem WHERE l_orderkey <= 400
    """,
    tier="T1",
    survey="B5",
)
def b5_cast_coerce(spark, sf_dir):
    """Casts: double→int (via floor — engines differ on raw double→int
    rounding), int→double, timestamp→date→string."""
    return (
        T(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") <= 400)
        .select(
            "l_orderkey",
            F.floor("l_quantity").cast("bigint").alias("qty_int"),
            F.col("l_linenumber").cast("double").alias("ln_dbl"),
            F.col("l_shipdate").cast("date").cast("string").alias("ship_str"),
        )
    )


@query(
    "b6_null_handling",
    sql=f"""
    SELECT COALESCE(NULLIF(event_type, 'error'), 'unknown') AS etype_clean,
           COUNT(*) AS n,
           {sql_dsum("COALESCE(CASE WHEN event_type = 'error' THEN NULL ELSE value END, 0.0)",
                     'total_ok_value')}
    FROM events GROUP BY etype_clean
    """,
    tier="T2",
    survey="B6",
)
def b6_null_handling(spark, sf_dir):
    """coalesce / nullif / na.fill null handling."""
    ev = T(spark, sf_dir, "events")
    cleaned = ev.select(
        F.coalesce(F.nullif("event_type", F.lit("error")), F.lit("unknown")).alias(
            "etype_clean"
        ),
        F.when(F.col("event_type") == "error", None)
        .otherwise(F.col("value"))
        .alias("ok_value"),
    ).na.fill({"ok_value": 0.0})
    return cleaned.groupBy("etype_clean").agg(
        F.count(F.lit(1)).alias("n"), dsum("ok_value", "total_ok_value")
    )


# ---------------------------------------------------------------------------
# 2.C joins
# ---------------------------------------------------------------------------


@query(
    "c1_inner_join_agg",
    sql=f"""
    SELECT c_mktsegment, COUNT(*) AS n_orders, {sql_dsum('o_totalprice', 'total')}
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
    tier="T1",
    survey="C1,D1",
)
def c1_inner_join_agg(spark, sf_dir):
    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "total"))
    )


@query(
    "c2_left_join_histogram",
    sql="""
    SELECT n_orders, COUNT(*) AS n_customers FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS n_orders
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    ) GROUP BY n_orders
    """,
    tier="T1",
    survey="C2,D1",
)
def c2_left_join_histogram(spark, sf_dir):
    """Left outer join; COUNT(col) skips the null-padded non-matches."""
    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


@query(
    "c3_semi_join",
    sql="""
    SELECT c_mktsegment, COUNT(*) AS n FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    """,
    tier="T2",
    survey="C3",
)
def c3_semi_join(spark, sf_dir):
    """Existence filter (the reference's 'already uploaded?' check shape)."""
    cust = T(spark, sf_dir, "customer")
    urgent = T(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "c4_anti_join",
    sql="""
    SELECT c_mktsegment, COUNT(*) AS n FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
    tier="T2",
    survey="C4",
)
def c4_anti_join(spark, sf_dir):
    """Non-existence filter (new-records-only half of the upsert)."""
    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "c5_cross_join",
    sql="""
    SELECT r_name, s.o_orderstatus
    FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
    tier="T2",
    survey="C5,D11",
)
def c5_cross_join(spark, sf_dir):
    region = T(spark, sf_dir, "region")
    statuses = T(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return region.crossJoin(statuses).select("r_name", "o_orderstatus")


@query(
    "c6_range_join",
    sql=f"""
    SELECT b.band, COUNT(*) AS n, {sql_dsum('p_retailprice', 'total_price')}
    FROM part
    JOIN (VALUES ('low', 0.0, 500.0), ('mid', 500.0, 1200.0),
                 ('high', 1200.0, 1e9)) AS b(band, lo, hi)
      ON p_retailprice >= b.lo AND p_retailprice < b.hi
    GROUP BY b.band
    """,
    tier="T2",
    survey="C6,A5",
)
def c6_range_join(spark, sf_dir):
    """Theta join on value bands: broadcast nested-loop with a range
    predicate — the tiny band table is the broadcast side."""
    part = T(spark, sf_dir, "part")
    bands = local_frame(
        spark,
        [("low", 0.0, 500.0), ("mid", 500.0, 1200.0), ("high", 1200.0, 1e9)],
        "band STRING, lo DOUBLE, hi DOUBLE",
    )
    cond = (part.p_retailprice >= bands.lo) & (part.p_retailprice < bands.hi)
    return (
        part.join(F.broadcast(bands), cond)
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n"), dsum("p_retailprice", "total_price"))
    )


@query(
    "c7_interval_overlap_join",
    sql=f"""
    SELECT p.period, COUNT(*) AS n_events, {sql_dsum('e.value', 'total_value')}
    FROM events e
    JOIN (VALUES ('w1', TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-08'),
                 ('w2', TIMESTAMP '2024-01-05', TIMESTAMP '2024-01-12'),
                 ('m1', TIMESTAMP '2024-01-01', TIMESTAMP '2024-02-01'))
         AS p(period, p_start, p_end)
      ON e.ts < p.p_end AND p.p_start < e.ts + INTERVAL 1 HOUR
    GROUP BY p.period
    """,
    tier="T2",
    survey="C7",
)
def c7_interval_overlap_join(spark, sf_dir):
    """Interval-overlap join: event [ts, ts+1h) × period [start, end)
    (the reference's consumption-interval × billing-period alignment)."""
    ev = (
        T(spark, sf_dir, "events")
        .withColumn("ev_end", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
        .withColumnRenamed("ts", "ev_start")
    )
    periods = local_frame(
        spark,
        [
            ("w1", "2024-01-01", "2024-01-08"),
            ("w2", "2024-01-05", "2024-01-12"),
            ("m1", "2024-01-01", "2024-02-01"),
        ],
        "period STRING, p_start_s STRING, p_end_s STRING",
    ).select(
        "period",
        F.col("p_start_s").cast("timestamp").alias("p_start"),
        F.col("p_end_s").cast("timestamp").alias("p_end"),
    )
    joined = interval_overlap_join(
        ev, F.broadcast(periods), "ev_start", "ev_end", "p_start", "p_end"
    )
    return joined.groupBy("period").agg(
        F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value")
    )


@query(
    "c8_asof_join",
    sql="""
    SELECT l.event_id, l.user_id, r.value AS last_view_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') l
    ASOF LEFT JOIN (
      SELECT user_id, ts, value FROM events WHERE event_type = 'view'
      QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
    ) r ON l.user_id = r.user_id AND r.ts <= l.ts
    """,
    tier="T2",
    survey="C8",
)
def c8_asof_join(spark, sf_dir):
    """As-of join: each purchase gets the value of the user's latest
    prior-or-simultaneous view. Union+window implementation (one shuffle)."""
    ev = T(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = dedupe_keep_latest_by(
        ev.where(F.col("event_type") == "view").select(
            "user_id", "ts", F.col("value").alias("last_view_value"), "event_id"
        ),
        keys=["user_id", "ts"],
        order_cols=["event_id"],
    ).drop("event_id")
    out = asof_join(
        purchases,
        views,
        keys=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols=["last_view_value"],
        allow_exact=True,
    )
    return out.select("event_id", "user_id", "last_view_value")


@query(
    "c10_self_join",
    sql="""
    SELECT COUNT(*) AS n_pairs
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 MINUTE
     AND a.event_id <> b.event_id
    """,
    tier="T2",
    survey="C10,C6",
)
def c10_self_join(spark, sf_dir):
    """Self-join: pairs of same-user events within a 1-minute window."""
    ev = T(spark, sf_dir, "events")
    a = ev.alias("a")
    b = ev.alias("b")
    cond = (
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 1 MINUTE"))
        & (F.col("a.event_id") != F.col("b.event_id"))
    )
    return a.join(b, cond).agg(F.count(F.lit(1)).alias("n_pairs"))


# ---------------------------------------------------------------------------
# 2.D aggregation
# ---------------------------------------------------------------------------


@query(
    "d2_distinct_agg",
    sql="""
    SELECT c_nationkey,
           COUNT(DISTINCT c_mktsegment) AS n_segments,
           COUNT(DISTINCT c_custkey) AS n_customers
    FROM customer GROUP BY c_nationkey
    """,
    tier="T2",
    survey="D2",
)
def d2_distinct_agg(spark, sf_dir):
    return (
        T(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.count_distinct("c_mktsegment").alias("n_segments"),
            F.count_distinct("c_custkey").alias("n_customers"),
        )
    )


@query(
    "d3_stats_agg",
    sql="""
    SELECT l_returnflag,
           ROUND(stddev_samp(l_quantity), 6) AS sd_qty,
           ROUND(var_pop(l_discount), 6) AS var_disc,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price
    FROM lineitem GROUP BY l_returnflag
    """,
    tier="T2",
    survey="D3",
)
def d3_stats_agg(spark, sf_dir):
    """Statistical aggregates; rounded — both engines use numerically
    stable accumulation, residual error << 1e-6 at these magnitudes."""
    return (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
            F.round(F.var_pop("l_discount"), 6).alias("var_disc"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
                "corr_qty_price"
            ),
        )
    )


@query(
    "d4_first_per_group",
    sql="""
    SELECT o_custkey AS custkey, o_orderkey AS first_orderkey,
           o_totalprice AS first_totalprice
    FROM orders WHERE o_custkey <= 200
    QUALIFY row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) = 1
    """,
    tier="T2",
    survey="D4",
)
def d4_first_per_group(spark, sf_dir):
    """Ordered first-per-group via deterministic window (not F.first on an
    unsorted group, which is nondeterministic under parallelism)."""
    o = T(spark, sf_dir, "orders").where(F.col("o_custkey") <= 200)
    first = dedupe_keep_latest_by(
        o, keys=["o_custkey"], order_cols=["o_orderdate", "o_orderkey"], keep="min"
    )
    return first.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("first_orderkey"),
        F.col("o_totalprice").alias("first_totalprice"),
    )


@query(
    "d5_collect_list",
    sql="""
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
           COUNT(*) AS n
    FROM events GROUP BY user_id
    """,
    tier="T2",
    survey="D5",
)
def d5_collect_list(spark, sf_dir):
    """Array-valued agg, sorted for determinism, joined to a string so the
    oracle hash sees identical scalar values."""
    return (
        T(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias("types"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "d6_percentiles",
    sql="""
    SELECT o_orderstatus,
           ROUND(median(o_totalprice), 4) AS med_price,
           ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90_price
    FROM orders GROUP BY o_orderstatus
    """,
    tier="T2",
    survey="D6",
)
def d6_percentiles(spark, sf_dir):
    """Exact median / interpolated percentile (both engines interpolate)."""
    return (
        T(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.round(F.median("o_totalprice"), 4).alias("med_price"),
            F.round(F.percentile("o_totalprice", 0.9), 4).alias("p90_price"),
        )
    )


@query(
    "d9_rollup",
    sql=f"""
    SELECT r_name, n_name,
           CAST(2 * GROUPING(r_name) + GROUPING(n_name) AS INT) AS gid,
           COUNT(*) AS n_customers,
           {sql_dsum('c_acctbal', 'total_bal')}
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    tier="T2",
    survey="D9",
)
def d9_rollup(spark, sf_dir):
    """Hierarchical rollup with grouping-id disambiguation."""
    cust = T(spark, sf_dir, "customer")
    nation = T(spark, sf_dir, "nation")
    region = T(spark, sf_dir, "region")
    joined = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(
        (2 * F.grouping("r_name") + F.grouping("n_name")).cast("int").alias("gid"),
        F.count(F.lit(1)).alias("n_customers"),
        dsum("c_acctbal", "total_bal"),
    )


@query(
    "d10_having",
    sql="""
    SELECT c_nationkey, COUNT(*) AS n FROM customer
    GROUP BY c_nationkey HAVING COUNT(*) > 40
    """,
    tier="T1",
    survey="D10",
)
def d10_having(spark, sf_dir):
    return (
        T(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 40)
    )


@query(
    "d11_distinct",
    sql="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
    tier="T1",
    survey="D11",
)
def d11_distinct(spark, sf_dir):
    return T(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


@query(
    "d12_dedup_keep_latest",
    sql="""
    SELECT user_id, event_type, event_id, value FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) = 1
    """,
    tier="T2",
    survey="D12,K5",
)
def d12_dedup_keep_latest(spark, sf_dir):
    """Upsert semantics: newest record per natural key wins."""
    ev = T(spark, sf_dir, "events")
    latest = dedupe_keep_latest_by(
        ev, keys=["user_id", "event_type"], order_cols=["ts", "event_id"]
    )
    return latest.select("user_id", "event_type", "event_id", "value")


@query(
    "d13_pivot",
    sql=f"""
    SELECT user_id,
           {sql_dsum("CASE WHEN event_type = 'view' THEN value END", 'view')},
           {sql_dsum("CASE WHEN event_type = 'click' THEN value END", 'click')},
           {sql_dsum("CASE WHEN event_type = 'purchase' THEN value END", 'purchase')}
    FROM events GROUP BY user_id
    """,
    tier="T2",
    survey="D13",
)
def d13_pivot(spark, sf_dir):
    """Pivot rows→columns on an enum (fuel-type-style wide table)."""
    return (
        T(spark, sf_dir, "events")
        .groupBy("user_id")
        .pivot("event_type", ["view", "click", "purchase"])
        .agg(dsum("value", "v"))
    )


@query(
    "d14_unpivot",
    sql="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val
    FROM lineitem WHERE l_orderkey <= 200
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
    FROM lineitem WHERE l_orderkey <= 200
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
    FROM lineitem WHERE l_orderkey <= 200
    """,
    tier="T3",
    survey="D14",
)
def d14_unpivot(spark, sf_dir):
    """Columns→rows melt."""
    li = T(spark, sf_dir, "lineitem").where(F.col("l_orderkey") <= 200)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "metric",
        "val",
    )


# ---------------------------------------------------------------------------
# 2.E window functions
# ---------------------------------------------------------------------------


@query(
    "e1_ranking",
    sql="""
    SELECT c_nationkey, c_custkey,
           row_number() OVER w AS rn,
           rank() OVER w2 AS rnk,
           dense_rank() OVER w2 AS drnk
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey),
           w2 AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC)
    QUALIFY rn <= 5
    """,
    tier="T1",
    survey="E1,E5",
)
def e1_ranking(spark, sf_dir):
    """Ranking family over per-nation account-balance order."""
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    w2 = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc())
    return (
        T(spark, sf_dir, "customer")
        .select(
            "c_nationkey",
            "c_custkey",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w2).alias("rnk"),
            F.dense_rank().over(w2).alias("drnk"),
        )
        .where(F.col("rn") <= 5)
    )


@query(
    "e2_lag_lead",
    sql="""
    SELECT user_id, event_id,
           epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us,
           lead(event_type) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    QUALIFY user_id <= 20
    """,
    tier="T2",
    survey="E2",
)
def e2_lag_lead(spark, sf_dir):
    """Offset windows: inter-event gap detection (meter-read gap check)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = T(spark, sf_dir, "events")
    return (
        ev.select(
            "user_id",
            "event_id",
            (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("gap_us"),
            F.lead("event_type").over(w).alias("next_type"),
        )
        .where(F.col("user_id") <= 20)
    )


@query(
    "e3_running_sum",
    sql="""
    SELECT o_custkey, o_orderkey,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE), 4) AS running_total
    FROM orders WHERE o_custkey <= 100
    """,
    tier="T2",
    survey="E3",
)
def e3_running_sum(spark, sf_dir):
    """Frame aggregate: running total per customer (decimal-exact)."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        T(spark, sf_dir, "orders")
        .where(F.col("o_custkey") <= 100)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,4)")).over(w).cast("double"), 4
            ).alias("running_total"),
        )
    )


@query(
    "e4_forward_fill",
    sql="""
    SELECT user_id, event_id,
           last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END
                      IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS ffill_value
    FROM events QUALIFY user_id <= 20
    """,
    tier="T2",
    survey="E4,K4",
)
def e4_forward_fill(spark, sf_dir):
    """Gap-fill forward-fill: last non-null value carried forward."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ev = T(spark, sf_dir, "events")
    val = F.when(F.col("event_type") == "error", None).otherwise(F.col("value"))
    return (
        ev.select(
            "user_id",
            "event_id",
            F.last(val, ignorenulls=True).over(w).alias("ffill_value"),
        )
        .where(F.col("user_id") <= 20)
    )


# ---------------------------------------------------------------------------
# 2.F sort / limit
# ---------------------------------------------------------------------------


@query(
    "f1_multi_sort",
    sql="""
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    ORDER BY o_orderstatus ASC NULLS LAST, o_totalprice DESC NULLS LAST, o_orderkey
    LIMIT 100
    """,
    tier="T1",
    survey="F1,F2",
)
def f1_multi_sort(spark, sf_dir):
    return (
        T(spark, sf_dir, "orders")
        .orderBy(
            F.col("o_orderstatus").asc_nulls_last(),
            F.col("o_totalprice").desc_nulls_last(),
            F.col("o_orderkey"),
        )
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .limit(100)
    )


@query(
    "f2_limit_offset",
    sql="SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 50 OFFSET 100",
    tier="T1",
    survey="F2",
)
def f2_limit_offset(spark, sf_dir):
    return (
        T(spark, sf_dir, "orders")
        .orderBy("o_orderkey")
        .select("o_orderkey", "o_totalprice")
        .offset(100)
        .limit(50)
    )


@query(
    "f3_global_topk",
    sql="""
    SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20
    """,
    tier="T1",
    survey="F3",
)
def f3_global_topk(spark, sf_dir):
    """Global top-k: Spark plans TakeOrderedAndProject (no full sort)."""
    return (
        T(spark, sf_dir, "lineitem")
        .orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .limit(20)
    )


@query(
    "e5_topk_per_group",
    sql="""
    SELECT user_id, event_id, value FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id
                               ORDER BY value DESC, event_id) <= 3
    """,
    tier="T1",
    survey="E5",
)
def e5_topk_per_group(spark, sf_dir):
    """Top-3 events per user by value (rank-then-filter operator)."""
    ev = T(spark, sf_dir, "events")
    return topk_per_group(
        ev,
        partition_by=["user_id"],
        order_by=[F.col("value").desc(), F.col("event_id")],
        k=3,
    ).select("user_id", "event_id", "value")


# ---------------------------------------------------------------------------
# 2.G set operations
# ---------------------------------------------------------------------------


@query(
    "g1_union_all",
    sql="""
    SELECT src, COUNT(*) AS n FROM (
      SELECT c_custkey AS k, 'c' AS src FROM customer
      UNION ALL
      SELECT s_suppkey AS k, 's' AS src FROM supplier
    ) GROUP BY src
    """,
    tier="T1",
    survey="G1",
)
def g1_union_all(spark, sf_dir):
    cust = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), F.lit("c").alias("src")
    )
    supp = T(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("k"), F.lit("s").alias("src")
    )
    return cust.unionByName(supp).groupBy("src").agg(F.count(F.lit(1)).alias("n"))


@query(
    "g2_union_distinct",
    sql="""
    SELECT c_nationkey AS nk FROM customer
    UNION
    SELECT s_nationkey AS nk FROM supplier
    """,
    tier="T2",
    survey="G2",
)
def g2_union_distinct(spark, sf_dir):
    cust = T(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    supp = T(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return cust.unionByName(supp).distinct()


@query(
    "g3_intersect",
    sql="""
    SELECT c_custkey AS k FROM customer WHERE c_custkey <= 700
    INTERSECT
    SELECT o_custkey AS k FROM orders
    """,
    tier="T2",
    survey="G3",
)
def g3_intersect(spark, sf_dir):
    cust = (
        T(spark, sf_dir, "customer")
        .where(F.col("c_custkey") <= 700)
        .select(F.col("c_custkey").alias("k"))
    )
    ordered = T(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    return cust.intersect(ordered)


@query(
    "g4_except",
    sql="""
    SELECT c_custkey AS k FROM customer
    EXCEPT
    SELECT o_custkey AS k FROM orders
    """,
    tier="T2",
    survey="G4",
)
def g4_except(spark, sf_dir):
    """Customers who never ordered (EXCEPT DISTINCT semantics)."""
    cust = T(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    ordered = T(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    return cust.subtract(ordered)


# ---------------------------------------------------------------------------
# K6 merge-upsert (declared here since it is pure relational composition)
# ---------------------------------------------------------------------------


@query(
    "k6_merge_upsert",
    sql=f"""
    WITH target AS (
      SELECT user_id, event_type, event_id, value FROM events
      WHERE ts < TIMESTAMP '2024-01-15'
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                                 ORDER BY ts DESC, event_id DESC) = 1
    ), delta AS (
      SELECT user_id, event_type, event_id, value FROM events
      WHERE ts >= TIMESTAMP '2024-01-15'
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                                 ORDER BY ts DESC, event_id DESC) = 1
    )
    SELECT * FROM target
    WHERE NOT EXISTS (SELECT 1 FROM delta d
                      WHERE d.user_id = target.user_id
                        AND d.event_type = target.event_type)
    UNION ALL
    SELECT * FROM delta
    """,
    tier="T2",
    survey="K6,C4,G1",
)
def k6_merge_upsert(spark, sf_dir):
    """Batch upsert: first-half snapshot ⊕ second-half delta, delta wins
    (the reference datastore's bulk-upsert upload semantics)."""
    ev = T(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15").cast("timestamp")
    keys = ["user_id", "event_type"]
    order_cols = ["ts", "event_id"]
    cols = ["user_id", "event_type", "event_id", "value"]
    target = dedupe_keep_latest_by(ev.where(F.col("ts") < cutoff), keys, order_cols).select(cols)
    delta = dedupe_keep_latest_by(ev.where(F.col("ts") >= cutoff), keys, order_cols).select(cols)
    return merge_upsert(target, delta, keys, broadcast_delta=True)


@query(
    "c8b_asof_forward",
    sql="""
    WITH views AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'view'
      QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
    )
    SELECT event_id, user_id, next_view_value FROM (
      SELECT l.event_id, l.user_id, r.value AS next_view_value,
             row_number() OVER (PARTITION BY l.event_id
                                ORDER BY r.ts ASC NULLS LAST) AS rn
      FROM (SELECT * FROM events WHERE event_type = 'purchase') l
      LEFT JOIN views r ON l.user_id = r.user_id AND r.ts >= l.ts
    ) WHERE rn = 1
    """,
    tier="T2",
    survey="C8",
)
def c8b_asof_forward(spark, sf_dir):
    """Forward as-of join: each purchase gets the value of the user's NEXT
    view at-or-after it (next-reading-after semantics; same single-shuffle
    union+window plan as c8, scanned in reverse)."""
    ev = T(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = dedupe_keep_latest_by(
        ev.where(F.col("event_type") == "view").select(
            "user_id", "ts", F.col("value").alias("next_view_value"), "event_id"
        ),
        keys=["user_id", "ts"],
        order_cols=["event_id"],
    ).drop("event_id")
    out = asof_join(
        purchases,
        views,
        keys=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols=["next_view_value"],
        allow_exact=True,
        direction="forward",
    )
    return out.select("event_id", "user_id", "next_view_value")


@query(
    "d9b_cube",
    sql=f"""
    SELECT r_name, o_orderstatus,
           CAST(2 * GROUPING(r_name) + GROUPING(o_orderstatus) AS INT) AS gid,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice', 'total_price')}
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY CUBE (r_name, o_orderstatus)
    """,
    tier="T2",
    survey="D9",
)
def d9b_cube(spark, sf_dir):
    """CUBE over (region, orderstatus) — all four grouping sets in one
    pass, disambiguated by grouping-id (D9's other half next to ROLLUP's
    hierarchy). Scale shape identical to rollup: Expand multiplies rows
    map-side but partial aggregation collapses them before the single
    shuffle on the (grouping-set, keys) composite."""
    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = T(spark, sf_dir, "nation")
    region = T(spark, sf_dir, "region")
    joined = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.cube("r_name", "o_orderstatus").agg(
        (2 * F.grouping("r_name") + F.grouping("o_orderstatus")).cast("int").alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice", "total_price"),
    )


@query(
    "d9c_grouping_sets",
    sql=f"""
    SELECT r_name, o_orderstatus,
           CAST(2 * GROUPING(r_name) + GROUPING(o_orderstatus) AS INT) AS gid,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice', 'total_price')}
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name), (o_orderstatus), ())
    """,
    tier="T2",
    survey="D9",
)
def d9c_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS — the per-dimension marginals plus the grand
    total WITHOUT the (r_name, o_orderstatus) cross cells that CUBE would
    add (D9's third face next to ROLLUP/CUBE; Spark 4's native
    ``DataFrame.groupingSets``). Same Expand-then-partial-agg scale shape:
    rows multiply map-side by the number of sets (3 here, vs CUBE's 4),
    partial aggregation collapses them before the single shuffle."""
    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = T(spark, sf_dir, "nation")
    region = T(spark, sf_dir, "region")
    joined = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.groupingSets(
        [["r_name"], ["o_orderstatus"], []], "r_name", "o_orderstatus"
    ).agg(
        (2 * F.grouping("r_name") + F.grouping("o_orderstatus")).cast("int").alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice", "total_price"),
    )


@query(
    "e6_range_interval_window",
    sql="""
    SELECT event_id, user_id,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER (
             PARTITION BY user_id
             ORDER BY CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
           ) AS DOUBLE), 6) AS trailing_1h_sum
    FROM events WHERE user_id <= 50
    """,
    tier="T2",
    survey="E3,H4",
)
def e6_range_interval_window(spark, sf_dir):
    """RANGE window over event time (not row count): trailing 1-hour sum
    of value per user — the value-based frame the row-frame e3 can't
    express; decimal-exact so the float sum is order-independent.
    Ordering key is epoch seconds (floor), identical in both engines."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3600, Window.currentRow)
    )
    return (
        T(spark, sf_dir, "events")
        .where(F.col("user_id") <= 50)
        .select(
            "event_id",
            "user_id",
            F.round(
                F.sum(F.col("value").cast("decimal(30,6)")).over(w).cast("double"), 6
            ).alias("trailing_1h_sum"),
        )
    )


@query(
    "e7_rolling_distinct",
    sql="""
    SELECT event_id, user_id,
           COUNT(DISTINCT event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS distinct_types
    FROM events WHERE user_id <= 50
    """,
    tier="T2",
    survey="E3,D2",
)
def e7_rolling_distinct(spark, sf_dir):
    """Rolling DISTINCT count over a trailing row frame — Spark has no
    native windowed distinct aggregate, so this is the collect_set∘size
    composition (set semantics inside the frame buffer). Frame order is
    (ts, event_id), a unique compound, so results are deterministic."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    return (
        T(spark, sf_dir, "events")
        .where(F.col("user_id") <= 50)
        .select(
            "event_id",
            "user_id",
            F.size(F.collect_set("event_type").over(w)).cast("long").alias("distinct_types"),
        )
    )


@query(
    "e8_distribution_ranks",
    sql="""
    SELECT c_nationkey, c_custkey,
           ntile(4) OVER w AS quartile,
           CAST(floor(percent_rank() OVER w * 1000000 + 0.5) AS BIGINT) AS pr_e6,
           CAST(floor(cume_dist() OVER w * 1000000 + 0.5) AS BIGINT) AS cd_e6
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
    tier="T2",
    survey="E1",
)
def e8_distribution_ranks(spark, sf_dir):
    """Distribution ranks (E1 completion): ntile quartiles, percent_rank,
    cume_dist over a unique (acctbal, custkey) order — the remaining
    ranking functions e1 doesn't exercise. Emitted as integer micro-units
    via an EXPLICIT floor(x·1e6 + 0.5): rank/n can land exactly on a
    .5·1e-6 rounding tie (e.g. 333/640), where Spark's half-up ROUND and
    DuckDB's half-even disagree — the explicit double expression is
    computed identically by both engines."""
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return T(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_custkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.floor(F.percent_rank().over(w) * 1_000_000 + 0.5).cast("long").alias("pr_e6"),
        F.floor(F.cume_dist().over(w) * 1_000_000 + 0.5).cast("long").alias("cd_e6"),
    )


@query(
    "d16_mode",
    sql="""
    WITH c AS (
      SELECT l_returnflag, l_quantity, COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag, l_quantity
    ),
    r AS (
      SELECT *, row_number() OVER (
        PARTITION BY l_returnflag ORDER BY n DESC, l_quantity ASC) AS rn
      FROM c
    )
    SELECT l_returnflag, l_quantity AS mode_qty, n AS mode_n
    FROM r WHERE rn = 1
    """,
    tier="T2",
    survey="D3,D4,D1",
)
def d16_mode(spark, sf_dir):
    """Deterministic MODE per group (D3 completion): Spark's native mode()
    breaks ties arbitrarily, so the exact tie policy — highest count, then
    smallest value — is built from two map-combinable hash aggregates
    (count per (group, value), then max over struct(n, -value)): no
    window, no sort, shuffles carry one row per distinct pair."""
    li = T(spark, sf_dir, "lineitem")
    c = li.groupBy("l_returnflag", "l_quantity").agg(F.count(F.lit(1)).alias("n"))
    m = c.groupBy("l_returnflag").agg(
        F.max(F.struct(F.col("n"), (-F.col("l_quantity")).alias("negq"))).alias("m")
    )
    return m.select(
        "l_returnflag",
        (-F.col("m.negq")).alias("mode_qty"),
        F.col("m.n").alias("mode_n"),
    )


@query(
    "d17_boolean_aggs",
    sql="""
    SELECT event_type,
           COUNT(*) FILTER (WHERE value > 2.5) AS n_big,
           bool_and(value >= 0) AS all_nonneg,
           bool_or(value > 4.9) AS has_huge
    FROM events GROUP BY event_type
    """,
    tier="T2",
    survey="D1,D3,B4",
)
def d17_boolean_aggs(spark, sf_dir):
    """Boolean/conditional aggregate family (D completion): count_if,
    bool_and, bool_or — predicate rollups in one map-combinable hash
    aggregate (the audit-flag shape: 'how many out-of-range, are all
    non-negative, does any exceed the cap')."""
    ev = T(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_if(F.col("value") > 2.5).alias("n_big"),
        F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
        F.bool_or(F.col("value") > 4.9).alias("has_huge"),
    )


@query(
    "g6_snapshot_reconcile",
    sql="""
    WITH first_half AS (
      SELECT DISTINCT user_id FROM events
      WHERE ts < TIMESTAMP '2024-01-16'
        AND event_type = 'purchase' AND value >= 180
    ),
    second_half AS (
      SELECT DISTINCT user_id FROM events
      WHERE ts >= TIMESTAMP '2024-01-16'
        AND event_type = 'purchase' AND value >= 180
    )
    SELECT 'both' AS status, user_id FROM
      (SELECT user_id FROM first_half INTERSECT SELECT user_id FROM second_half)
    UNION ALL
    SELECT 'only_first', user_id FROM
      (SELECT user_id FROM first_half EXCEPT SELECT user_id FROM second_half)
    UNION ALL
    SELECT 'only_second', user_id FROM
      (SELECT user_id FROM second_half EXCEPT SELECT user_id FROM first_half)
    """,
    tier="T2",
    survey="G3,G4,D11",
)
def g6_snapshot_reconcile(spark, sf_dir):
    """Snapshot reconciliation — the set-algebra audit every incremental
    load needs: which distinct high-value purchasers (D11) appear in BOTH
    halves of the month (G3 intersect, retained), only the first (G4
    except, churned), or only the second (gained).
    One query, all three set operators, tagged and unioned into a single
    report. Each INTERSECT/EXCEPT is a shuffle on the key — the same
    exchange a join-based diff would need, with null-safe set semantics
    for free."""
    ev = T(spark, sf_dir, "events").where(
        (F.col("event_type") == "purchase") & (F.col("value") >= 180)
    )
    cut = F.lit("2024-01-16").cast("timestamp")
    first = ev.where(F.col("ts") < cut).select("user_id").distinct()
    second = ev.where(F.col("ts") >= cut).select("user_id").distinct()
    return (
        first.intersect(second).select(F.lit("both").alias("status"), "user_id")
        .unionAll(
            first.subtract(second).select(F.lit("only_first").alias("status"), "user_id")
        )
        .unionAll(
            second.subtract(first).select(F.lit("only_second").alias("status"), "user_id")
        )
    )


@query(
    "g8_bag_set_ops",
    sql="""
    WITH a AS (SELECT l_suppkey AS k FROM lineitem WHERE l_quantity > 25),
         b AS (SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R'),
         ex AS (SELECT k FROM a EXCEPT ALL SELECT k FROM b),
         ia AS (SELECT k FROM a INTERSECT ALL SELECT k FROM b)
    SELECT 'except_all' AS op, k, COUNT(*) AS n FROM ex GROUP BY k
    UNION ALL
    SELECT 'intersect_all' AS op, k, COUNT(*) AS n FROM ia GROUP BY k
    """,
    tier="T2",
    survey="G3,G4,G1,D1",
)
def g8_bag_set_ops(spark, sf_dir):
    """MULTISET set operations (exceptAll / intersectAll) — the bag
    semantics G3/G4's set forms silently drop: per-key multiplicities
    subtract / min rather than collapsing to membership. Output is the
    per-key multiplicity of each result bag so the comparison is
    deterministic."""
    li = T(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_quantity") > 25).select(F.col("l_suppkey").alias("k"))
    b = li.where(F.col("l_returnflag") == "R").select(F.col("l_suppkey").alias("k"))
    ex = a.exceptAll(b).groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    ia = a.intersectAll(b).groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    return ex.select(F.lit("except_all").alias("op"), "k", "n").unionByName(
        ia.select(F.lit("intersect_all").alias("op"), "k", "n")
    )


@query(
    "d21_chi_square_independence",
    sql="""
    WITH obs AS (
      SELECT l_returnflag AS r, l_linestatus AS c, COUNT(*) AS o
      FROM lineitem GROUP BY r, c
    ), rt AS (SELECT r, SUM(o) AS row_n FROM obs GROUP BY r),
       ct AS (SELECT c, SUM(o) AS col_n FROM obs GROUP BY c),
       n AS (SELECT SUM(o) AS total FROM obs),
       cells AS (
         SELECT obs.r, obs.c, obs.o,
                (CAST(rt.row_n AS DOUBLE) * ct.col_n) / n.total AS e
         FROM obs JOIN rt USING (r) JOIN ct USING (c) CROSS JOIN n
       )
    SELECT (SELECT COUNT(DISTINCT r) FROM obs) AS n_rows,
           (SELECT COUNT(DISTINCT c) FROM obs) AS n_cols,
           ROUND(SUM(CAST(ROUND(((o - e) * (o - e) / e) * 1000000) AS BIGINT))
                 / 1000000.0, 6) AS chi2
    FROM cells
    """,
    tier="T2",
    survey="D1,D3,H5,C5",
)
def d21_chi_square_independence(spark, sf_dir):
    """Chi-square independence audit over a contingency table
    (returnflag × linestatus): expected cell counts from the marginal
    products, per-cell contributions quantized to integer micros before
    the sum (dsum discipline — cell order cannot flip a digit). The
    whole statistic is three map-combinable aggregations over one scan
    plus broadcast-sized marginal joins."""
    li = T(spark, sf_dir, "lineitem")
    obs = (
        li.groupBy(F.col("l_returnflag").alias("r"), F.col("l_linestatus").alias("c"))
        .agg(F.count(F.lit(1)).alias("o"))
    )
    rt = obs.groupBy("r").agg(F.sum("o").alias("row_n"))
    ct = obs.groupBy("c").agg(F.sum("o").alias("col_n"))
    n = obs.agg(F.sum("o").alias("total"))
    e = (F.col("row_n").cast("double") * F.col("col_n")) / F.col("total")
    cells = (
        obs.join(F.broadcast(rt), "r")
        .join(F.broadcast(ct), "c")
        .crossJoin(F.broadcast(n))
        .select(
            "r",
            "c",
            F.round(
                ((F.col("o") - e) * (F.col("o") - e) / e) * F.lit(1_000_000)
            )
            .cast("long")
            .alias("__m"),
        )
    )
    nr = obs.agg(F.count_distinct("r").alias("n_rows"))
    nc = obs.agg(F.count_distinct("c").alias("n_cols"))
    return (
        cells.agg(F.round(F.sum("__m") / F.lit(1e6), 6).alias("chi2"))
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nc))
        .select("n_rows", "n_cols", "chi2")
    )


@query(
    "m9_event_transition_matrix",
    sql="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
      FROM events
    ), cnt AS (
      SELECT event_type, next_type, COUNT(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    ), tot AS (
      SELECT event_type, SUM(n) AS n_from FROM cnt GROUP BY event_type
    )
    SELECT cnt.event_type, cnt.next_type, cnt.n,
           ROUND(CAST(cnt.n AS DOUBLE) / tot.n_from, 6) AS prob
    FROM cnt JOIN tot USING (event_type)
    """,
    tier="T2",
    survey="E2,D1,C1",
)
def m9_event_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over per-user event streams:
    lead() pairs within one user-partitioned window (single shuffle on
    user_id), bigram counts, and row-normalized probabilities — exact
    integer-count ratios, so the 6dp rounding is engine-stable. The
    from-state totals attach by broadcast (|event types|² rows)."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cnt = (
        ev.select("user_id", "event_type", F.lead("event_type").over(w).alias("next_type"))
        .where(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cnt.groupBy("event_type").agg(F.sum("n").alias("n_from"))
    return (
        cnt.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "next_type",
            "n",
            F.round(F.col("n").cast("double") / F.col("n_from"), 6).alias("prob"),
        )
    )


@query(
    "d22_equi_depth_histogram",
    sql="""
    WITH b AS (
      SELECT quantile_cont(o_totalprice,
               [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS bnds
      FROM orders
    )
    SELECT CAST(1 + len(list_filter(b.bnds, x -> o_totalprice > x)) AS BIGINT)
             AS bucket,
           COUNT(*) AS n,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi
    FROM orders CROSS JOIN b
    GROUP BY bucket
    """,
    tier="T2",
    survey="D6,D1,H8,B2",
)
def d22_equi_depth_histogram(spark, sf_dir):
    """Exact equi-DEPTH histogram (complements d19's equi-width): interior
    boundaries from one exact-percentile aggregation (a 7-double frame —
    broadcast, never a global sort/window), bucket assignment as a
    map-side lambda count of exceeded boundaries. Interpolated boundaries
    are either exactly a data value (d=0 — bit-identical in both engines)
    or strictly between two adjacent money values, so 1-ulp interpolation
    differences cannot flip any v>b comparison."""
    o = T(spark, sf_dir, "orders")
    qs = [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]
    b = o.agg(
        F.percentile("o_totalprice", F.array(*[F.lit(q) for q in qs])).alias("bnds")
    )
    v = F.col("o_totalprice")
    bucket = (
        F.lit(1) + F.size(F.filter(F.col("bnds"), lambda x: v > x))
    ).cast("long")
    return (
        o.crossJoin(F.broadcast(b))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min(v), 2).alias("lo"),
            F.round(F.max(v), 2).alias("hi"),
        )
    )


@query(
    "d23_k_anonymity",
    sql="""
    WITH cls AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(FLOOR(value / 100) AS INT) AS vb, COUNT(*) AS n
      FROM events GROUP BY 1, 2, 3
    )
    SELECT event_type,
           COUNT(*) AS n_classes,
           CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unsafe_classes,
           CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
             AS n_suppressed,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           ROUND(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) * 1.0 / SUM(n), 6)
             AS suppression_rate
    FROM cls GROUP BY event_type ORDER BY event_type
    """,
    tier="T2",
    survey="D1,D10,B4,H4",
)
def d23_k_anonymity(spark, sf_dir):
    """k-anonymity audit (operators/quality.k_anonymity_audit) before a
    data release: quasi-identifier = (event day, value band); classes with
    <5 rows re-identify members, and the audit prices the suppression a
    k=5 release would pay, per event_type. Two map-side-combinable
    aggregations — one row per class, then one per report group; the
    class count is bounded by the generalization grain, so the shuffle
    stays O(classes) at any corpus size."""
    ev = T(spark, sf_dir, "events")
    return quality_ops.k_anonymity_audit(
        ev,
        quasi_cols=[
            F.col("ts").cast("date"),
            F.floor(F.col("value") / 100).cast("int"),
        ],
        k=5,
        report_by=["event_type"],
    ).orderBy("event_type")


@query(
    "d24_weighted_median",
    sql="""
    WITH pv AS (
      SELECT l_returnflag, l_extendedprice AS v,
             SUM(CAST(l_quantity AS BIGINT)) AS w
      FROM lineitem GROUP BY 1, 2
    ), c AS (
      SELECT l_returnflag, v,
             SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(w) OVER (PARTITION BY l_returnflag) AS tot
      FROM pv
    )
    SELECT m.l_returnflag, m.wmedian, p.wp90
    FROM (SELECT l_returnflag, MIN(v) AS wmedian FROM c
          WHERE cum * 2 >= tot GROUP BY l_returnflag) m
    JOIN (SELECT l_returnflag, MIN(v) AS wp90 FROM c
          WHERE cum * 10 >= tot * 9 GROUP BY l_returnflag) p
      USING (l_returnflag)
    ORDER BY l_returnflag
    """,
    tier="T2",
    survey="D6,E3,D1,C1",
)
def d24_weighted_median(spark, sf_dir):
    """Exact WEIGHTED quantiles (operators/relational.weighted_quantile)
    — the operator d6's unweighted percentile can't express: each price
    counts by its quantity, and the quantile is the smallest value whose
    cumulative weight reaches the target fraction. Integer reach test
    (den*cum >= num*tot) instead of float interpolation, so partitioning
    can never flip a comparison; the duplicate-value pre-aggregation
    bounds the window by value cardinality, not row count."""
    from oeem_etl_spark.operators.relational import weighted_quantile

    li = T(spark, sf_dir, "lineitem")
    med = weighted_quantile(
        li, ["l_returnflag"], "l_extendedprice", "l_quantity", 1, 2
    ).withColumnRenamed("l_extendedprice", "wmedian")
    p90 = weighted_quantile(
        li, ["l_returnflag"], "l_extendedprice", "l_quantity", 9, 10
    ).withColumnRenamed("l_extendedprice", "wp90")
    return med.join(p90, "l_returnflag").orderBy("l_returnflag")


@query(
    "d24b_weighted_median_bucketed",
    sql="""
    WITH pv AS (
      SELECT l_returnflag, l_extendedprice AS v,
             SUM(CAST(l_quantity AS BIGINT)) AS w
      FROM lineitem GROUP BY 1, 2
    ), c AS (
      SELECT l_returnflag, v,
             SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(w) OVER (PARTITION BY l_returnflag) AS tot
      FROM pv
    )
    SELECT l_returnflag, MIN(v) AS wmedian FROM c
    WHERE cum * 2 >= tot GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tier="T2",
    survey="D6,E3,D1,C9",
)
def d24b_weighted_median_bucketed(spark, sf_dir):
    """The 100 TB path for d24: two-phase bucket refinement
    (operators/relational.weighted_quantile_bucketed) — a groups x 1024
    weight histogram locates each group's target bucket, then only that
    bucket's rows (~1/1024 of the data) see an ordered scan. Same
    integer reach arithmetic, same oracle as the one-pass operator; the
    equality of the two implementations is property-tested in
    tests/test_operators.py."""
    from oeem_etl_spark.operators.relational import weighted_quantile_bucketed

    li = T(spark, sf_dir, "lineitem")
    return (
        weighted_quantile_bucketed(
            li, ["l_returnflag"], "l_extendedprice", "l_quantity", 1, 2
        )
        .withColumnRenamed("l_extendedprice", "wmedian")
        .orderBy("l_returnflag")
    )


@query(
    "d27_welch_ttest",
    sql="""
    WITH s AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS sv,
             CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)
                      * CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS svv
      FROM events GROUP BY event_type
    ), m AS (
      SELECT event_type, n, sv, svv,
             sv / n / 1000.0 AS mean,
             ((n * svv - sv * sv) / (n * (n - 1.0))) / 1000000.0 AS var
      FROM s
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           a.n AS n_a, b.n AS n_b,
           ROUND(a.mean - b.mean, 6) AS mean_diff,
           ROUND((a.mean - b.mean)
                 / sqrt(a.var / a.n + b.var / b.n), 6) AS t_stat,
           ROUND(pow(a.var / a.n + b.var / b.n, 2)
                 / (pow(a.var / a.n, 2) / (a.n - 1.0)
                    + pow(b.var / b.n, 2) / (b.n - 1.0)), 6) AS welch_df
    FROM m a JOIN m b ON a.event_type < b.event_type
    ORDER BY type_a, type_b
    """,
    tier="T2",
    survey="D3,C10,H5,D1",
)
def d27_welch_ttest(spark, sf_dir):
    """Welch's two-sample t-statistic for every event-type pair — the
    unequal-variance experiment readout (A/B value comparisons) that
    complements d21's chi-square independence: exact fixed-point moment
    sums per group (millis scale keeps Σv² in long range), then mean /
    variance / t / Welch–Satterthwaite df derived with one fixed
    association so both engines produce identical doubles. One grouped
    aggregation over the data; the 5-row stats frame self-joins
    broadcast-side for the 10 pairs."""
    ev = T(spark, sf_dir, "events")
    vm = qlong(F.col("value"), 1_000)
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vm).alias("sv"),
        F.sum(vm * vm).alias("svv"),
    )
    n, sv, svv = F.col("n"), F.col("sv"), F.col("svv")
    m = s.select(
        "event_type", "n", 
        (sv / n / F.lit(1000.0)).alias("mean"),
        ((n * svv - sv * sv) / (n * (n - F.lit(1.0))) / F.lit(1_000_000.0)).alias(
            "var"
        ),
    )
    a = m.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("n_a"),
        F.col("mean").alias("mean_a"), F.col("var").alias("var_a"),
    )
    b = m.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("n_b"),
        F.col("mean").alias("mean_b"), F.col("var").alias("var_b"),
    )
    va_n = F.col("var_a") / F.col("n_a")
    vb_n = F.col("var_b") / F.col("n_b")
    return (
        a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
        .select(
            "type_a", "type_b", "n_a", "n_b",
            F.round(F.col("mean_a") - F.col("mean_b"), 6).alias("mean_diff"),
            F.round(
                (F.col("mean_a") - F.col("mean_b")) / F.sqrt(va_n + vb_n), 6
            ).alias("t_stat"),
            F.round(
                F.pow(va_n + vb_n, 2)
                / (
                    F.pow(va_n, 2) / (F.col("n_a") - F.lit(1.0))
                    + F.pow(vb_n, 2) / (F.col("n_b") - F.lit(1.0))
                ),
                6,
            ).alias("welch_df"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "c14_overlap_user_periods",
    sql="""
    WITH periods AS (
      SELECT * FROM (VALUES
        ('w1', TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-08'),
        ('w2', TIMESTAMP '2024-01-05', TIMESTAMP '2024-01-12')
      ) AS p(period, p_start, p_end)
    ),
    hits AS (
      SELECT p.period, e.user_id
      FROM events e JOIN periods p
        ON CAST(e.ts AS TIMESTAMP) < p.p_end
       AND p.p_start < CAST(e.ts AS TIMESTAMP) + INTERVAL '1 hour'
    )
    SELECT period, user_id FROM hits WHERE period = 'w1'
    UNION
    SELECT period, user_id FROM hits WHERE period = 'w2'
    """,
    tier="T2",
    survey="C7,G2,A5",
)
def c14_overlap_user_periods(spark, sf_dir):
    """Interval-overlap join (C7) feeding a union-DISTINCT (G2): which
    users have activity overlapping each billing window — the two period
    branches are computed independently (the per-window incremental-job
    shape) and merged with duplicate elimination, exactly what re-running
    an overlapping window against an existing roster needs."""
    ev = (
        T(spark, sf_dir, "events")
        .withColumn("ev_end", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
        .withColumnRenamed("ts", "ev_start")
        .select("ev_start", "ev_end", "user_id")
    )
    periods = local_frame(
        spark,
        [("w1", "2024-01-01", "2024-01-08"), ("w2", "2024-01-05", "2024-01-12")],
        "period STRING, p_start_s STRING, p_end_s STRING",
    ).select(
        "period",
        F.col("p_start_s").cast("timestamp").alias("p_start"),
        F.col("p_end_s").cast("timestamp").alias("p_end"),
    )
    hits = interval_overlap_join(
        ev, F.broadcast(periods), "ev_start", "ev_end", "p_start", "p_end"
    ).select("period", "user_id")
    w1 = hits.where(F.col("period") == "w1")
    w2 = hits.where(F.col("period") == "w2")
    return w1.unionByName(w2).distinct()


@query(
    "d28_first_event_pivot",
    sql="""
    WITH firsts AS (
      SELECT user_id, event_type, value
      FROM events WHERE user_id <= 300
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                                 ORDER BY ts, event_id) = 1
    )
    SELECT user_id,
           ROUND(SUM(CAST(ROUND(CASE WHEN event_type = 'view' THEN value END
                 * 1000000) AS BIGINT)) / 1000000.0, 6) AS view,
           ROUND(SUM(CAST(ROUND(CASE WHEN event_type = 'click' THEN value END
                 * 1000000) AS BIGINT)) / 1000000.0, 6) AS click,
           ROUND(SUM(CAST(ROUND(CASE WHEN event_type = 'purchase' THEN value END
                 * 1000000) AS BIGINT)) / 1000000.0, 6) AS purchase
    FROM firsts GROUP BY user_id
    """,
    tier="T2",
    survey="D4,D13",
)
def d28_first_event_pivot(spark, sf_dir):
    """Ordered first-per-(user, type) (D4 — max_by/min_by hash aggregate,
    never F.first on an unsorted group) pivoted to one column per event
    type (D13): each user's first-touch value by channel, the
    attribution-matrix shape. Both steps are hash aggregates — no sort,
    no window, map-side combinable at 100 TB."""
    ev = T(spark, sf_dir, "events").where(F.col("user_id") <= 300).select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    firsts = dedupe_keep_latest_by(
        ev, keys=["user_id", "event_type"], order_cols=["ts", "event_id"],
        keep="min",
    )
    return (
        firsts.groupBy("user_id")
        .pivot("event_type", ["view", "click", "purchase"])
        .agg(dsum("value", "v"))
    )


@query(
    "d29_struct_unpivot",
    sql="""
    WITH stats AS (
      SELECT o_custkey,
             MIN(o_totalprice) AS price_min,
             MAX(o_totalprice) AS price_max
      FROM orders WHERE o_custkey <= 250 GROUP BY o_custkey
    )
    SELECT o_custkey, 'price_min' AS metric, price_min AS val FROM stats
    UNION ALL
    SELECT o_custkey, 'price_max', price_max FROM stats
    """,
    tier="T2",
    survey="H11,D14,D1",
)
def d29_struct_unpivot(spark, sf_dir):
    """Struct build + star-expansion (H11) feeding an unpivot melt (D14):
    per-customer price envelope packed as a typed struct (the
    one-object-per-metric-group idiom), expanded back to columns, then
    melted to the long (key, metric, val) shape a metrics store ingests.
    min/max are float-exact, so no quantization is needed."""
    o = T(spark, sf_dir, "orders").where(F.col("o_custkey") <= 250)
    stats = o.groupBy("o_custkey").agg(
        F.struct(
            F.min("o_totalprice").alias("price_min"),
            F.max("o_totalprice").alias("price_max"),
        ).alias("envelope")
    )
    wide = stats.select("o_custkey", "envelope.*")
    return wide.unpivot(["o_custkey"], ["price_min", "price_max"], "metric", "val")


@query(
    "d30_cuped_adjustment",
    # CUPED variance-reduced experiment readout: per-user pre/post value
    # sums (millis-quantized BIGINTs), theta = cov(pre, post)/var(pre)
    # pooled over all users, arm-level adjusted means derived purely
    # from arm sums. Every moment is an exact integer before ONE
    # double-arithmetic path shared verbatim by both engines.
    sql="""
    WITH u AS (
      SELECT user_id, user_id % 2 AS arm,
             COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                          THEN CAST(ROUND(value * 1000) AS BIGINT) END), 0) AS x,
             COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                          THEN CAST(ROUND(value * 1000) AS BIGINT) END), 0) AS y
      FROM events GROUP BY user_id
    ), g AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS dn,
             CAST(SUM(x) AS DOUBLE) AS dsx, CAST(SUM(y) AS DOUBLE) AS dsy,
             CAST(SUM(x * x) AS DOUBLE) AS dsxx,
             CAST(SUM(x * y) AS DOUBLE) AS dsxy,
             CAST(SUM(y * y) AS DOUBLE) AS dsyy
      FROM u
    ), t AS (
      SELECT dn, dsx,
             (dn * dsxy - dsx * dsy) / (dn * dsxx - dsx * dsx) AS theta,
             ((dn * dsxy - dsx * dsy) * (dn * dsxy - dsx * dsy))
               / ((dn * dsxx - dsx * dsx) * (dn * dsyy - dsy * dsy)) AS r2
      FROM g
    )
    SELECT u.arm, COUNT(*) AS n_users,
           ROUND(CAST(SUM(u.x) AS DOUBLE) / COUNT(*) / 1000.0, 6) AS mean_pre,
           ROUND(CAST(SUM(u.y) AS DOUBLE) / COUNT(*) / 1000.0, 6) AS mean_post,
           ROUND(CAST(SUM(u.y) AS DOUBLE) / COUNT(*) / 1000.0
                 - t.theta * (CAST(SUM(u.x) AS DOUBLE) / COUNT(*) / 1000.0
                              - t.dsx / t.dn / 1000.0), 6) AS mean_adjusted,
           ROUND(t.theta, 6) AS theta,
           ROUND(t.r2, 6) AS var_reduction
    FROM u CROSS JOIN t
    GROUP BY u.arm, t.theta, t.r2, t.dsx, t.dn
    ORDER BY u.arm
    """,
    tier="T2",
    survey="D3,D1,B4,H4,H5,C5",
)
def d30_cuped_adjustment(spark, sf_dir):
    """CUPED (controlled-experiment pre-period adjustment, Deng et al.
    2013 — public method): reduce post-period metric variance using
    each user's pre-period activity as the covariate. Scale shape: ONE
    pass over events into a per-user conditional aggregate (hash agg on
    user_id, map-side combinable); the global moment frame g is a
    single row crossJoin-broadcast back onto the tiny per-user frame;
    arm-level output is 2 rows. theta and r² are derived from exact
    BIGINT moment sums in one fixed IEEE association, so repr-equality
    holds across engines."""
    ev = T(spark, sf_dir, "events")
    split = F.lit("2024-01-16").cast("timestamp_ntz")
    vm = qlong(F.col("value"), 1_000)
    u = ev.groupBy("user_id").agg(
        F.coalesce(F.sum(F.when(F.col("ts") < split, vm)), F.lit(0)).alias("x"),
        F.coalesce(F.sum(F.when(F.col("ts") >= split, vm)), F.lit(0)).alias("y"),
    ).select((F.col("user_id") % 2).alias("arm"), "x", "y")
    x, y = F.col("x"), F.col("y")
    g = u.agg(
        F.count(F.lit(1)).cast("double").alias("dn"),
        F.sum(x).cast("double").alias("dsx"),
        F.sum(y).cast("double").alias("dsy"),
        F.sum(x * x).cast("double").alias("dsxx"),
        F.sum(x * y).cast("double").alias("dsxy"),
        F.sum(y * y).cast("double").alias("dsyy"),
    )
    dn, dsx, dsy = F.col("dn"), F.col("dsx"), F.col("dsy")
    dsxx, dsxy, dsyy = F.col("dsxx"), F.col("dsxy"), F.col("dsyy")
    t = g.select(
        "dn",
        "dsx",
        ((dn * dsxy - dsx * dsy) / (dn * dsxx - dsx * dsx)).alias("theta"),
        (
            ((dn * dsxy - dsx * dsy) * (dn * dsxy - dsx * dsy))
            / ((dn * dsxx - dsx * dsx) * (dn * dsyy - dsy * dsy))
        ).alias("r2"),
    )
    arm_mean_pre = F.sum(x).cast("double") / F.count(F.lit(1)) / F.lit(1000.0)
    arm_mean_post = F.sum(y).cast("double") / F.count(F.lit(1)) / F.lit(1000.0)
    return (
        u.crossJoin(F.broadcast(t))
        .groupBy("arm", "theta", "r2", "dsx", "dn")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(arm_mean_pre, 6).alias("mean_pre"),
            F.round(arm_mean_post, 6).alias("mean_post"),
            F.round(
                arm_mean_post
                - F.col("theta")
                * (arm_mean_pre - F.col("dsx") / F.col("dn") / F.lit(1000.0)),
                6,
            ).alias("mean_adjusted"),
        )
        .select(
            "arm",
            "n_users",
            "mean_pre",
            "mean_post",
            "mean_adjusted",
            F.round("theta", 6).alias("theta"),
            F.round("r2", 6).alias("var_reduction"),
        )
        .orderBy("arm")
    )
