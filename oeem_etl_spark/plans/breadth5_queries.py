"""Fifth-face COMBO queries, pre-authored for round-9 rotation.

After the r6-continuation prefix and the breadth4 reserve are consumed
by rounds 7-8, fourteen tags drop to a single never-driver-checked
provider (measured against the ledger at authoring: A5 B7 C2 C6 C7 C8
D11 D13 D14 E4 F2 G2 K4 K5). Each query here is one coherent pipeline
exercising several of those rows at once (the combo discipline the r6
verdict endorsed — bundling keeps the 50-slot prefix feasible), so
round 9 starts with a fresh provider for every tag without another
authoring pass. Same oracle discipline as the rest of the registry.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from oeem_etl_spark.catalog import local_frame
from oeem_etl_spark.plans.registry import query
from oeem_etl_spark.plans.util import T, dsum, sql_dsum

# ---------------------------------------------------------------------------
# c71: A5 inline source + C7 interval overlap + C6 range theta + C8 as-of
# ---------------------------------------------------------------------------

_C71_WINDOWS = [
    # (win_id, win_start, win_end, min_price)
    (1, "1993-02-01", "1993-07-01", 50000.0),
    (2, "1994-01-15", "1994-03-01", 120000.0),
    (3, "1995-06-01", "1996-01-01", 80000.0),
    (4, "1997-03-10", "1997-11-20", 20000.0),
]

_C71_VALUES = ", ".join(
    f"({i}, TIMESTAMP '{s} 00:00:00', TIMESTAMP '{e} 00:00:00', {p})"
    for (i, s, e, p) in _C71_WINDOWS
)


@query(
    "c71_inline_window_asof",
    sql=f"""
    WITH w(win_id, win_start, win_end, min_price) AS (
      VALUES {_C71_VALUES}
    ),
    ov AS (
      SELECT o.o_orderkey, o.o_totalprice, w.win_id, w.win_start
      FROM orders o JOIN w
        ON o.o_orderdate < w.win_end
       AND w.win_start < o.o_orderdate + INTERVAL 30 DAY
       AND o.o_totalprice >= w.min_price
      WHERE o.o_custkey <= 300
    ),
    pick AS (
      SELECT *, row_number() OVER (PARTITION BY o_orderkey
                 ORDER BY win_start DESC) AS rn
      FROM ov
    )
    SELECT win_id, COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice', 'sum_price')}
    FROM pick WHERE rn = 1
    GROUP BY win_id ORDER BY win_id
    """,
    tier="T2",
    survey="A5,C6,C7,C8,D1",
)
def c71_inline_window_asof(spark, sf_dir):
    """Maintenance-window attribution in one pipeline: an INLINE window
    catalog (A5), interval-overlap join of each order's 30-day service
    period against the windows (C7), a price-floor theta predicate (C6),
    then AS-OF selection of the latest-starting overlapping window per
    order (C8 semantics expressed as the standard latest-row window) and
    a per-window rollup. Small dim side stays a broadcast; the order
    side never shuffles more than the matched rows."""
    w = local_frame(
        spark,
        [(i, s, e, p) for (i, s, e, p) in _C71_WINDOWS],
        "win_id int, win_start string, win_end string, min_price double",
    ).select(
        "win_id",
        F.col("win_start").cast("timestamp").alias("win_start"),
        F.col("win_end").cast("timestamp").alias("win_end"),
        "min_price",
    )
    o = T(spark, sf_dir, "orders").where(F.col("o_custkey") <= 300)
    ov = o.join(
        F.broadcast(w),
        (F.col("o_orderdate") < F.col("win_end"))
        & (F.col("win_start") < F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        & (F.col("o_totalprice") >= F.col("min_price")),
    )
    pick = ov.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("o_orderkey").orderBy(F.col("win_start").desc())
        ),
    ).where(F.col("rn") == 1)
    return (
        pick.groupBy("win_id")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "sum_price"),
        )
        .orderBy("win_id")
    )


# ---------------------------------------------------------------------------
# d52: D13 pivot + D14 unpivot + G2 union distinct
# ---------------------------------------------------------------------------


@query(
    "d52_pivot_unpivot_roundtrip",
    # The oracle states the SEMANTIC result: pivot -> unpivot (nulls
    # dropped) is the identity on the grouped counts, and UNION DISTINCT
    # of the roundtrip with the direct aggregate is the aggregate itself.
    sql="""
    SELECT o_orderpriority, o_orderstatus AS status, COUNT(*) AS cnt
    FROM orders GROUP BY o_orderpriority, o_orderstatus
    ORDER BY o_orderpriority, status
    """,
    tier="T2",
    survey="D13,D14,G2,D1",
)
def d52_pivot_unpivot_roundtrip(spark, sf_dir):
    """Pivot → unpivot → union-distinct roundtrip: order counts pivot to
    one column per status (D13, explicit value list so the schema is
    static), unpivot back to (priority, status, cnt) dropping the NULL
    cells (D14), then UNION DISTINCT with the direct groupBy (G2) — the
    set must equal the direct aggregate exactly, which is what the
    oracle states. A lossy pivot/unpivot (wrong value list, kept nulls,
    double-count) breaks the equality."""
    o = T(spark, sf_dir, "orders")
    direct = o.groupBy("o_orderpriority", F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    unp = piv.unpivot(
        ["o_orderpriority"], ["F", "O", "P"], "status", "cnt"
    ).where(F.col("cnt").isNotNull())
    return (
        unp.select("o_orderpriority", "status", "cnt")
        .union(direct.select("o_orderpriority", "status", "cnt"))
        .distinct()
        .orderBy("o_orderpriority", "status")
    )


# ---------------------------------------------------------------------------
# k57: K5 dedupe keep-latest + D11 distinct + K4 month-grid gap fill
# ---------------------------------------------------------------------------


@query(
    "k45_monthly_latest_gapfill",
    sql="""
    WITH m AS (
      SELECT o_custkey, date_trunc('month', o_orderdate) AS mth,
             o_totalprice, o_orderkey, o_orderpriority
      FROM orders WHERE o_custkey <= 40
    ),
    latest AS (
      SELECT o_custkey, mth, o_totalprice FROM (
        SELECT *, row_number() OVER (PARTITION BY o_custkey, mth
                   ORDER BY o_orderkey DESC) AS rn
        FROM m
      ) WHERE rn = 1
    ),
    ntypes AS (
      SELECT o_custkey, mth, COUNT(*) AS n_prio FROM (
        SELECT DISTINCT o_custkey, mth, o_orderpriority FROM m
      ) GROUP BY o_custkey, mth
    ),
    span AS (
      SELECT o_custkey, MIN(mth) AS lo, MAX(mth) AS hi
      FROM m GROUP BY o_custkey
    ),
    grid AS (
      SELECT o_custkey, unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS mth
      FROM span
    ),
    joined AS (
      SELECT g.o_custkey, g.mth, l.o_totalprice, n.n_prio
      FROM grid g
      LEFT JOIN latest l USING (o_custkey, mth)
      LEFT JOIN ntypes n USING (o_custkey, mth)
    )
    SELECT o_custkey, mth,
           ROUND(LAST_VALUE(o_totalprice IGNORE NULLS) OVER (
             PARTITION BY o_custkey ORDER BY mth
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS price_ff,
           COALESCE(n_prio, 0) AS n_prio,
           (o_totalprice IS NULL) AS is_filled
    FROM joined
    ORDER BY o_custkey, mth
    """,
    tier="T2",
    survey="K4,K5,D11,E3",
)
def k45_monthly_latest_gapfill(spark, sf_dir):
    """Monthly reading pipeline: keep-latest record per (customer,
    month) — newest o_orderkey wins (K5, via the hash-agg fast path of
    dedupe_keep_latest_by semantics expressed with the window form for
    the tie contract), DISTINCT priorities seen per month (D11), then a
    dense month grid per customer with forward-filled price (K4,
    fill_gaps freq='month' — the irregular-interval path) and a filled
    flag. Raw values pass through (one ROUND for display), so the whole
    pipeline is value-exact."""
    from oeem_etl_spark.operators.relational import dedupe_keep_latest
    from oeem_etl_spark.operators.timeseries import fill_gaps

    o = T(spark, sf_dir, "orders").where(F.col("o_custkey") <= 40)
    m = o.select(
        "o_custkey",
        F.date_trunc("month", F.col("o_orderdate")).alias("mth"),
        "o_totalprice",
        "o_orderkey",
        "o_orderpriority",
    )
    latest = dedupe_keep_latest(
        m, ["o_custkey", "mth"], [F.col("o_orderkey").desc()]
    ).select("o_custkey", "mth", "o_totalprice")
    ntypes = (
        m.select("o_custkey", "mth", "o_orderpriority")
        .distinct()
        .groupBy("o_custkey", "mth")
        .agg(F.count(F.lit(1)).alias("n_prio"))
    )
    base = latest.join(ntypes, ["o_custkey", "mth"], "left")
    filled = fill_gaps(
        base.withColumn("observed", F.lit(True)),
        ["o_custkey"],
        "mth",
        "o_totalprice",
        freq="month",
    )
    return filled.select(
        "o_custkey",
        "mth",
        F.round("o_totalprice", 2).alias("price_ff"),
        F.coalesce("n_prio", F.lit(0).cast("long")).alias("n_prio"),
        F.col("observed").isNull().alias("is_filled"),
    ).orderBy("o_custkey", "mth")


# ---------------------------------------------------------------------------
# f12: E4 first/last/nth over frame + B7 drop columns + F2 limit/offset
# ---------------------------------------------------------------------------


@query(
    "f12_nth_frame_page",
    sql="""
    WITH fr AS (
      SELECT o_orderkey, o_orderpriority, o_orderdate,
             first_value(o_totalprice) OVER w AS first_in_frame,
             last_value(o_totalprice) OVER w AS last_in_frame,
             nth_value(o_totalprice, 2) OVER w AS second_in_frame
      FROM orders
      WHERE o_custkey <= 50
      WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    )
    SELECT o_orderkey, o_orderpriority, first_in_frame, last_in_frame,
           second_in_frame
    FROM fr
    ORDER BY o_orderdate, o_orderkey
    LIMIT 15 OFFSET 30
    """,
    tier="T2",
    survey="E4,F2,B7,E3",
)
def f12_nth_frame_page(spark, sf_dir):
    """Sliding-frame first/last/nth (E4 — a 3-row trailing frame, so
    nth_value(2) is NULL on each partition's first row), helper columns
    dropped before output (B7), and page 3 of the fully tie-broken
    global order via offset+limit (F2) — pagination composed AFTER the
    window shuffle. Values pass through unrounded (no arithmetic)."""
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, 0)
    )
    o = T(spark, sf_dir, "orders").where(F.col("o_custkey") <= 50)
    fr = (
        o.withColumn("first_in_frame", F.first("o_totalprice").over(w))
        .withColumn("last_in_frame", F.last("o_totalprice").over(w))
        .withColumn("second_in_frame", F.nth_value("o_totalprice", 2).over(w))
        .drop("o_custkey", "o_orderstatus", "o_totalprice", "o_clerk",
              "o_shippriority", "o_comment")
    )
    return (
        fr.orderBy("o_orderdate", "o_orderkey")
        .select("o_orderkey", "o_orderpriority", "first_in_frame",
                "last_in_frame", "second_in_frame")
        .offset(30)
        .limit(15)
    )


# ---------------------------------------------------------------------------
# c22: C2 full outer join with both-side-only keys
# ---------------------------------------------------------------------------


@query(
    "c22_customer_order_outer_audit",
    sql="""
    WITH c AS (SELECT c_custkey, c_acctbal FROM customer
               WHERE c_custkey <= 100),
    o AS (SELECT o_custkey, COUNT(*) AS n_orders
          FROM orders WHERE o_custkey <= 120 GROUP BY o_custkey)
    SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey,
           c.c_acctbal AS acctbal,
           COALESCE(o.n_orders, 0) AS n_orders,
           CASE WHEN c.c_custkey IS NULL THEN 'order_only'
                WHEN o.o_custkey IS NULL THEN 'customer_only'
                ELSE 'both' END AS side
    FROM c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey
    ORDER BY custkey
    """,
    tier="T2",
    survey="C2,D1,B6",
)
def c22_customer_order_outer_audit(spark, sf_dir):
    """FULL OUTER reconciliation with genuinely unmatched rows on BOTH
    sides (customers ≤ 100 vs order-customers ≤ 120: no-order customers
    surface left-only, keys 101-120 right-only) — the C2 face where
    every null-handling branch executes. Null keys coalesce into one
    audit key plus a side flag (B6)."""
    c = (
        T(spark, sf_dir, "customer")
        .where(F.col("c_custkey") <= 100)
        .select("c_custkey", "c_acctbal")
    )
    o = (
        T(spark, sf_dir, "orders")
        .where(F.col("o_custkey") <= 120)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    j = c.join(o, c["c_custkey"] == o["o_custkey"], "full_outer")
    return j.select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        F.col("c_acctbal").alias("acctbal"),
        F.coalesce("n_orders", F.lit(0).cast("long")).alias("n_orders"),
        F.when(F.col("c_custkey").isNull(), "order_only")
        .when(F.col("o_custkey").isNull(), "customer_only")
        .otherwise("both")
        .alias("side"),
    ).orderBy("custkey")
