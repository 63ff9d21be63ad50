"""Ninth-face COMBO queries — the round-10 rotation reserve.

Authored EARLY in round 9 (ledger-neutral rule: reserves land before the
final sweep). Simulated against the ledger with the ACTUAL r9 prefix:
after r9's driver sweep the 82 remaining never-checked queries cover only
41 of 111 tags — 70 tags starve for r10 (the greedy checked-cover costs
24 of the 50 prefix slots). Each query here is one coherent NEW pipeline
re-covering one starved bundle (the combo discipline of breadth3-8), so
r10's prefix can stay tag-complete at 50 first-timers. Same oracle
discipline as the rest of the registry: exact integer-micros value math,
total orders everywhere, streaming drains through the availableNow
harness.
"""

from __future__ import annotations

import functools
import os
import shutil
import tempfile

from pyspark.sql import Window
from pyspark.sql import functions as F

from oeem_etl_spark.catalog import local_frame
from oeem_etl_spark.operators.splits import sql_hash_uniform
from oeem_etl_spark.plans.registry import query
from oeem_etl_spark.plans.util import T, dsum, sql_dsum

_TMP = os.path.join(
    tempfile.gettempdir(), f"oeem_etl_spark_breadth9_{os.getpid()}"
)

_CAST_TS = "CAST(ts AS TIMESTAMP)"


# ---------------------------------------------------------------------------
# d60: B2 derived column + D6 exact percentile/median
# ---------------------------------------------------------------------------


@query(
    "d60_net_price_quartiles",
    sql="""
    WITH m AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * (1 - l_discount) * 100)
                  AS BIGINT) AS net_cents
      FROM lineitem WHERE l_quantity >= 25
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(quantile_cont(net_cents, 0.25) / 100, 6) AS q1,
           ROUND(median(net_cents) / 100, 6) AS med,
           ROUND(quantile_cont(net_cents, 0.75) / 100, 6) AS q3
    FROM m GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tier="T2",
    survey="B2,D6,B3",
)
def d60_net_price_quartiles(spark, sf_dir):
    """Exact quartiles of a DERIVED money column: net price lands as
    integer cents first (B2 — the only representation whose exact median
    both engines can agree on; quantile interpolation over raw doubles
    accumulates engine-order noise), then per-flag exact
    percentile(0.25/0.75) and median (D6). Interpolated quartile values
    are k + f*(next-k) on int cents with f in {0, .25, .5, .75} — exact
    in a double, so ROUND never sits on a tie."""
    li = T(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 25)
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    m = li.select("l_returnflag", cents.alias("net_cents"))
    return (
        m.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.percentile("net_cents", F.lit(0.25)) / 100, 6).alias("q1"),
            F.round(F.median("net_cents") / 100, 6).alias("med"),
            F.round(F.percentile("net_cents", F.lit(0.75)) / 100, 6).alias("q3"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# d62: D10 having over a two-level aggregate
# ---------------------------------------------------------------------------


@query(
    "d62_active_hours_having",
    sql=f"""
    WITH h AS (
      SELECT event_type, CAST(hour({_CAST_TS}) AS INT) AS hr,
             COUNT(*) AS n,
             CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
               AS sum_vm
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, hour({_CAST_TS})
    )
    SELECT event_type, hr, n, sum_vm
    FROM h
    WHERE n >= 40 AND sum_vm > 0
    ORDER BY event_type, hr
    """,
    tier="T2",
    survey="D10,D1,H4",
)
def d62_active_hours_having(spark, sf_dir):
    """HAVING with a COMPOUND post-agg predicate (D10): per (event_type,
    hour-of-day) totals in exact integer micros, keeping only busy
    positive-total cells — both conditions live above the aggregate, so
    Catalyst must place the filter after the final hash agg (d10 filters
    on a count alone; this face gates on two agg outputs)."""
    ev = T(spark, sf_dir, "events").where(F.col("value").isNotNull())
    vm = F.round(F.col("value") * 1_000_000).cast("long")
    return (
        ev.select("event_type", F.hour("ts").cast("int").alias("hr"), vm.alias("vm"))
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("vm").alias("sum_vm"))
        .where((F.col("n") >= 40) & (F.col("sum_vm") > 0))
        .orderBy("event_type", "hr")
    )


# ---------------------------------------------------------------------------
# f31: C5 cross join + F2 limit/offset pagination
# ---------------------------------------------------------------------------


@query(
    "f31_region_grid_page",
    sql="""
    SELECT r_name, n_name,
           CAST(length(r_name) * length(n_name) AS INT) AS grid_weight
    FROM region CROSS JOIN nation
    ORDER BY grid_weight DESC, r_name, n_name
    LIMIT 20 OFFSET 15
    """,
    tier="T2",
    survey="C5,F2,F1",
)
def f31_region_grid_page(spark, sf_dir):
    """Cartesian grid + OFFSET pagination (C5 + F2): region x nation is a
    deliberate 125-row cross join (the only safe cross-join shape — both
    sides dimension-sized) ranked by a derived weight, then page 2 via
    limit+offset over a TOTAL order (weight desc, then both name keys —
    the unique tiebreak that makes pagination hash-stable)."""
    r = T(spark, sf_dir, "region").select("r_name")
    n = T(spark, sf_dir, "nation").select("n_name")
    return (
        r.crossJoin(n)
        .select(
            "r_name",
            "n_name",
            (F.length("r_name") * F.length("n_name"))
            .cast("int")
            .alias("grid_weight"),
        )
        .orderBy(F.col("grid_weight").desc(), "r_name", "n_name")
        .offset(15)
        .limit(20)
    )


# ---------------------------------------------------------------------------
# d63: D5 collect_list/set + H7 array ops
# ---------------------------------------------------------------------------


@query(
    "d63_type_set_algebra",
    sql="""
    WITH s AS (
      SELECT user_id,
             list_sort(list(DISTINCT event_type)) AS types
      FROM events WHERE user_id <= 60 GROUP BY user_id
    )
    SELECT user_id,
           array_to_string(types, ',') AS type_csv,
           CAST(len(types) AS INT) AS n_types,
           CAST(list_contains(types, 'purchase') AS BOOLEAN) AS has_purchase,
           CAST(len(list_intersect(types, ['click', 'view']))
                AS INT) AS n_browse,
           array_to_string(list_sort(list_distinct(
             list_concat(types, ['audit']))), ',') AS with_audit_csv
    FROM s ORDER BY user_id
    """,
    tier="T2",
    survey="D5,H7,D1",
)
def d63_type_set_algebra(spark, sf_dir):
    """Array-valued aggregation + list algebra (D5 + H7): per user the
    sorted DISTINCT event-type set, then pure array ops over it — size,
    membership, intersection with a literal list, and a union with a
    sentinel element (distinct + re-sort). Arrays leave the query as
    comma-joined strings on BOTH engines (the driver canon can't hash
    nested columns), so every set is value-compared, not just counted."""
    ev = T(spark, sf_dir, "events").where(F.col("user_id") <= 60)
    s = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_set("event_type")).alias("types")
    )
    return s.select(
        "user_id",
        F.array_join("types", ",").alias("type_csv"),
        F.size("types").cast("int").alias("n_types"),
        F.array_contains("types", "purchase").alias("has_purchase"),
        F.size(F.array_intersect("types", F.array(F.lit("click"), F.lit("view"))))
        .cast("int")
        .alias("n_browse"),
        F.array_join(
            F.sort_array(
                F.array_distinct(F.concat("types", F.array(F.lit("audit"))))
            ),
            ",",
        ).alias("with_audit_csv"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# c34: C10 self join + C3 semi + C4 anti
# ---------------------------------------------------------------------------


@query(
    "c34_preceding_views_gate",
    sql=f"""
    WITH p AS (
      SELECT event_id, user_id, {_CAST_TS} AS ts FROM events
      WHERE event_type = 'purchase' AND user_id <= 200
    ),
    v AS (
      SELECT user_id, {_CAST_TS} AS ts FROM events
      WHERE event_type = 'view' AND user_id <= 200
    ),
    joined AS (
      SELECT p.user_id, p.event_id, COUNT(v.ts) AS n_prior_views
      FROM p LEFT JOIN v
        ON v.user_id = p.user_id
       AND v.ts < p.ts AND v.ts >= p.ts - INTERVAL '1 hour'
      GROUP BY p.user_id, p.event_id
    ),
    surfaced AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_purchases,
             CAST(SUM(n_prior_views) AS BIGINT) AS n_primed
      FROM joined GROUP BY user_id
    )
    SELECT s.user_id, s.n_purchases, s.n_primed
    FROM surfaced s
    WHERE EXISTS (SELECT 1 FROM events c
                  WHERE c.event_type = 'click' AND c.user_id = s.user_id)
      AND NOT EXISTS (SELECT 1 FROM events x
                      WHERE x.event_type = 'signup' AND x.user_id = s.user_id)
    ORDER BY s.user_id
    """,
    tier="T2",
    survey="C10,C3,C4,C6,D1",
)
def c34_preceding_views_gate(spark, sf_dir):
    """Self-join attribution gated by set membership (C10+C3+C4): each
    purchase counts its SAME-STREAM views in the preceding hour (the
    events-preceding-events self-join, equi on user + time-range
    residual), rolled up per user, then kept only for users WITH a click
    (left semi) and WITHOUT a signup (left anti) — the
    already-uploaded?/new-records-only pair from the reference's upload
    loop, applied as audience gates."""
    ev = T(spark, sf_dir, "events").where(F.col("user_id") <= 200)
    p = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    v = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_uid"), F.col("ts").alias("v_ts")
    )
    joined = (
        p.join(
            v,
            (F.col("v_uid") == F.col("user_id"))
            & (F.col("v_ts") < F.col("ts"))
            & (F.col("v_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR")),
            "left",
        )
        .groupBy("user_id", "event_id")
        .agg(F.count("v_ts").alias("n_prior_views"))
    )
    surfaced = joined.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("n_prior_views").alias("n_primed"),
    )
    clickers = ev.where(F.col("event_type") == "click").select("user_id")
    signups = ev.where(F.col("event_type") == "signup").select("user_id")
    return (
        surfaced.join(clickers, "user_id", "left_semi")
        .join(signups, "user_id", "left_anti")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# c35: C11 bloom-pruned join + D9 rollup
# ---------------------------------------------------------------------------


@query(
    "c35_bloom_brand_rollup",
    sql=f"""
    SELECT p_brand, l_returnflag,
           CAST(2 * GROUPING(p_brand) + GROUPING(l_returnflag) AS INT)
             AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {sql_dsum('l_quantity', 'total_qty')}
    FROM lineitem
    JOIN (SELECT p_partkey, p_brand FROM part WHERE p_size >= 47) d
      ON l_partkey = p_partkey
    GROUP BY ROLLUP (p_brand, l_returnflag)
    """,
    tier="T2",
    survey="C11,D9,C9",
)
def c35_bloom_brand_rollup(spark, sf_dir):
    """Bloom-pruned fact join feeding a ROLLUP (C11 + D9): the selective
    part dim (p_size >= 47, ~4% of parts) builds an 8 KiB bitmap that
    sheds non-matching lineitem rows BEFORE the join exchange — the
    runtime-filter move that matters when the fact side is 100 TB — and
    the surviving rows roll up brand -> (brand, returnflag) with
    grouping-id disambiguation. Pruning must not change a row: the
    oracle is the PLAIN join + ROLLUP."""
    from oeem_etl_spark.operators.pruning import bloom_pruned_join

    li = T(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_returnflag", "l_quantity"
    )
    dim = (
        T(spark, sf_dir, "part")
        .where(F.col("p_size") >= 47)
        .select(F.col("p_partkey").alias("l_partkey"), "p_brand")
    )
    joined = bloom_pruned_join(li, F.broadcast(dim), "l_partkey")
    return joined.rollup("p_brand", "l_returnflag").agg(
        (2 * F.grouping("p_brand") + F.grouping("l_returnflag"))
        .cast("int")
        .alias("gid"),
        F.count(F.lit(1)).alias("n_items"),
        dsum("l_quantity", "total_qty"),
    )


# ---------------------------------------------------------------------------
# g10: G4 except all + D8 KMV distinct estimate (exact-algebra oracle)
# ---------------------------------------------------------------------------


def _g10_sql(k: int = 48) -> str:
    from oeem_etl_spark.plans import xxh64_sql

    return f"""
    WITH a AS (SELECT o_custkey FROM orders
               WHERE o_orderdate >= TIMESTAMP '1995-01-01'
                 AND o_orderdate < TIMESTAMP '1996-01-01'),
    b AS (SELECT o_custkey FROM orders
          WHERE o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1997-01-01'),
    exc AS (SELECT o_custkey FROM a EXCEPT ALL SELECT o_custkey FROM b),
    du AS (SELECT DISTINCT o_custkey AS user_key FROM exc),
    {xxh64_sql.xxh64_long_cte('du', 'user_key', 'gx')},
    s AS (SELECT CAST(gx_u - {1 << 63} AS BIGINT) AS fl
          FROM gxf ORDER BY fl LIMIT {k})
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM exc) AS n_multiset,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM du) AS n_distinct,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM s) AS n_sample,
      (SELECT MAX(fl) FROM s) AS kth_flipped
    """


@query(
    "g10_except_kmv",
    sql=_g10_sql(),
    tier="T3",
    survey="G4,D8,H6,F3",
)
def g10_except_kmv(spark, sf_dir):
    """EXCEPT ALL feeding a KMV theta-sample (G4 + D8): the multiset
    difference of 1995-vs-1996 order custkeys (bag semantics — a customer
    with 3 orders in 1995 and 1 in 1996 survives twice), then the
    48-smallest-unsigned-xxhash64 sample over its DISTINCT keys — the
    bounded-state distinct-estimate shape whose threshold (k-th flipped
    hash) is an INTEGER both engines recompute exactly (the float
    estimate stays with g7, rows-only by design)."""
    o = T(spark, sf_dir, "orders")

    def year(y: int):
        return o.where(
            (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
        ).select("o_custkey")

    exc = year(1995).exceptAll(year(1996)).cache()
    du = exc.distinct()
    fl = F.xxhash64("o_custkey").bitwiseXOR(F.lit(-(1 << 63)))
    s = du.select(fl.alias("fl")).orderBy("fl").limit(48)
    return (
        exc.agg(F.count(F.lit(1)).alias("n_multiset"))
        .crossJoin(du.agg(F.count(F.lit(1)).alias("n_distinct")))
        .crossJoin(
            s.agg(
                F.count(F.lit(1)).alias("n_sample"),
                F.max("fl").alias("kth_flipped"),
            )
        )
        .select("n_multiset", "n_distinct", "n_sample", "kth_flipped")
    )


# ---------------------------------------------------------------------------
# k46: K5/D12 dedupe keep-latest + K3 resample + K4 fill_gaps
# ---------------------------------------------------------------------------


@query(
    "k46_dedupe_resample_fill",
    sql=f"""
    WITH dd AS (
      SELECT user_id, ts, value FROM (
        SELECT user_id, {_CAST_TS} AS ts, value,
               row_number() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE user_id <= 40 AND value IS NOT NULL
      ) WHERE rn = 1
    ),
    hourly AS (
      SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_obs,
             CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
               AS sum_vm
      FROM dd GROUP BY user_id, bucket
    ),
    spans AS (
      SELECT user_id, min(bucket) AS mn, max(bucket) AS mx
      FROM hourly GROUP BY user_id
    ),
    grid AS (
      SELECT user_id,
             unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket
      FROM spans
    )
    SELECT g.user_id, CAST(g.bucket AS TIMESTAMP) AS bucket,
           CAST(COALESCE(h.n_obs, 0) AS BIGINT) AS n_obs,
           last_value(h.sum_vm IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_vm
    FROM grid g LEFT JOIN hourly h USING (user_id, bucket)
    ORDER BY user_id, bucket
    """,
    tier="T2",
    survey="K5,D12,K3,K4,E4",
)
def k46_dedupe_resample_fill(spark, sf_dir):
    """The meter-ingest chain in one pipeline: keep-LATEST per natural
    key (user, ts) by event_id — the upload-upsert dedupe (K5/D12) —
    then resample the survivors to hourly buckets in exact integer
    micros (K3), then densify each user's span and forward-fill the
    hourly total across gaps (K4/E4). Every stage clusters on a
    user_id-PREFIXED key ((user_id, ts) dedupe window, (user_id, bucket)
    resample, user_id fill), so ONE leading repartition("user_id")
    satisfies all of their clustering requirements (HashPartitioning on
    a key subset) and the measured plan pays one reused hash exchange +
    the grid broadcast instead of four exchanges — the co-partitioned
    chain a 100 TB meter pipeline needs."""
    from oeem_etl_spark.operators.timeseries import fill_gaps, resample_interval

    ev = (
        T(spark, sf_dir, "events")
        .where((F.col("user_id") <= 40) & F.col("value").isNotNull())
        .select("user_id", "ts", "value", "event_id")
        .repartition("user_id")
    )
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    dd = (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn", "event_id")
    )
    vm = F.round(F.col("value") * 1_000_000).cast("long")
    hourly = resample_interval(
        dd.select("user_id", "ts", vm.alias("vm")),
        keys=["user_id"],
        ts="ts",
        freq="hour",
        aggs=[
            F.count(F.lit(1)).alias("n_obs"),
            F.sum("vm").alias("sum_vm"),
        ],
    )
    filled = fill_gaps(
        hourly, keys=["user_id"], bucket="bucket", value="sum_vm", freq="hour"
    )
    return filled.select(
        "user_id",
        F.col("bucket").cast("timestamp_ntz").alias("bucket"),
        F.coalesce("n_obs", F.lit(0)).alias("n_obs"),
        F.col("sum_vm").alias("filled_vm"),
    ).orderBy("user_id", "bucket")


# ---------------------------------------------------------------------------
# k47: K6 merge_upsert chained twice
# ---------------------------------------------------------------------------


@query(
    "k47_upsert_chain",
    sql=f"""
    WITH m AS (
      SELECT o_custkey,
             CAST(CASE WHEN o_orderdate < TIMESTAMP '1994-01-01' THEN 1
                       WHEN o_orderdate < TIMESTAMP '1996-01-01' THEN 2
                       ELSE 3 END AS INT) AS stage,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             {sql_dsum('o_totalprice', 'total_price')}
      FROM orders WHERE o_custkey <= 400
      GROUP BY o_custkey, stage
    ),
    latest AS (
      SELECT o_custkey, stage, n_orders, total_price FROM (
        SELECT *, row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY stage DESC) AS rn
        FROM m
      ) WHERE rn = 1
    )
    SELECT o_custkey AS cust, stage, n_orders, total_price
    FROM latest ORDER BY cust
    """,
    tier="T2",
    survey="K6,D1,B4",
)
def k47_upsert_chain(spark, sf_dir):
    """merge_upsert applied TWICE (K6): the pre-1994 customer profile is
    the base table; the 1994-95 profile upserts over it (delta replaces
    on key match, both sides' non-matches survive); the 1996+ profile
    upserts over THAT. The final state per customer is the profile of
    the LATEST stage that saw them — which the oracle recomputes as a
    keep-max-stage window, proving the anti-join-union chain implements
    upsert semantics, not append. Both deltas broadcast (the usual
    huge-target x small-delta 100 TB shape)."""
    from oeem_etl_spark.operators.relational import merge_upsert

    o = T(spark, sf_dir, "orders").where(F.col("o_custkey") <= 400)

    def profile(lo: str | None, hi: str | None, stage: int):
        d = o
        if lo:
            d = d.where(F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
        if hi:
            d = d.where(F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
        return d.groupBy("o_custkey").agg(
            F.lit(stage).cast("int").alias("stage"),
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "total_price"),
        )

    base = profile(None, "1994-01-01", 1)
    d1 = profile("1994-01-01", "1996-01-01", 2)
    d2 = profile("1996-01-01", None, 3)
    state = merge_upsert(base, d1, ["o_custkey"], broadcast_delta=True)
    state = merge_upsert(state, d2, ["o_custkey"], broadcast_delta=True)
    return state.select(
        F.col("o_custkey").alias("cust"), "stage", "n_orders", "total_price"
    ).orderBy("cust")


# ---------------------------------------------------------------------------
# c82: C7 overlap + C8 as-of + C2 right outer + E4 forward fill
# ---------------------------------------------------------------------------

_C82_MONTHS = [(m, f"1998-{m:02d}-01", f"1998-{m + 1:02d}-01") for m in range(1, 12)]
_C82_MONTHS.append((12, "1998-12-01", "1999-01-01"))

_C82_SQL = ", ".join(
    f"({m}, TIMESTAMP '{s}', TIMESTAMP '{e}')" for m, s, e in _C82_MONTHS
)


@query(
    "c82_period_fill_reconcile",
    sql=f"""
    WITH periods(period_id, p_start, p_end) AS (VALUES {_C82_SQL}),
    o AS (
      SELECT o_orderkey, o_orderdate,
             o_orderdate + INTERVAL 14 DAY AS o_close
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1998-01-01'
    ),
    ov AS (
      SELECT p.period_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
      FROM o JOIN periods p
        ON o.o_orderdate < p.p_end AND p.p_start < o.o_close
      GROUP BY p.period_id
    ),
    asf AS (
      SELECT p.period_id, CAST(COUNT(*) AS BIGINT) AS n_asof
      FROM o JOIN periods p
        ON p.p_start = (SELECT MAX(p2.p_start) FROM periods p2
                        WHERE p2.p_start <= o.o_orderdate)
      GROUP BY p.period_id
    )
    SELECT p.period_id,
           CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
           last_value(asf.n_asof IGNORE NULLS) OVER (
             ORDER BY p.period_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS n_asof_carried,
           CAST(asf.n_asof IS NULL AS BOOLEAN) AS was_gap
    FROM periods p
    LEFT JOIN ov USING (period_id)
    LEFT JOIN asf USING (period_id)
    ORDER BY p.period_id
    """,
    tier="T2",
    survey="C7,C8,C2,E4,A5",
)
def c82_period_fill_reconcile(spark, sf_dir):
    """Period reporting with DUAL attribution and carry-forward (the
    reconcile face c81 does NOT have: here the outer join is on the
    PERIOD dim, so empty months surface): 1998 orders overlap-join
    monthly periods on their 14-day open interval (C7), as-of align to
    the latest period start (C8), then a right-outer-shaped join keeps
    every period (C2) — TPC-H orders stop in August, so Sep-Dec emerge
    as gaps whose as-of count forward-fills from August (E4, the
    last-known-report carry) while the overlap count zero-fills."""
    from oeem_etl_spark.operators.relational import (
        asof_align_broadcast,
        interval_overlap_join,
    )

    o = (
        T(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        .select(
            "o_orderkey",
            "o_orderdate",
            (F.col("o_orderdate") + F.expr("INTERVAL 14 DAY")).alias("o_close"),
        )
    )
    periods = local_frame(
        spark,
        _C82_MONTHS, "period_id int, p_start string, p_end string"
    ).select(
        "period_id",
        F.col("p_start").cast("timestamp").alias("p_start"),
        F.col("p_end").cast("timestamp").alias("p_end"),
    )
    ov = (
        interval_overlap_join(
            o.select("o_orderkey", "o_orderdate", "o_close"),
            periods,
            "o_orderdate",
            "o_close",
            "p_start",
            "p_end",
        )
        .groupBy("period_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    asf = (
        asof_align_broadcast(
            o.select("o_orderkey", "o_orderdate"),
            periods.select("p_start", "period_id"),
            left_ts="o_orderdate",
            right_ts="p_start",
            value_cols=["period_id"],
        )
        .groupBy("period_id")
        .agg(F.count(F.lit(1)).alias("n_asof"))
    )
    out = (
        ov.join(periods.select("period_id"), "period_id", "right")
        .join(asf, "period_id", "left")
    )
    wfill = Window.orderBy("period_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return out.select(
        "period_id",
        F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
        F.last("n_asof", ignorenulls=True).over(wfill).alias("n_asof_carried"),
        F.col("n_asof").isNull().alias("was_gap"),
    ).orderBy("period_id")


# ---------------------------------------------------------------------------
# k132: K7 grid align + K8 normalize + D7 exact-mode p90 + C6 bands
# ---------------------------------------------------------------------------

_K132_BANDS = [(1, 0, 40_000_000), (2, 40_000_000, 44_000_000),
               (3, 44_000_000, 1 << 62)]
_K132_BANDS_SQL = ", ".join(f"({b}, {lo}, {hi})" for b, lo, hi in _K132_BANDS)

_K132_FACTORS = [("view", 0.5), ("click", 1.25), ("purchase", 2.0),
                 ("signup", 1.0), ("error", 0.0)]
_K132_FACTORS_SQL = ", ".join(f"('{t}', {f})" for t, f in _K132_FACTORS)


@query(
    "k132_normalized_slot_p90_bands",
    sql=f"""
    WITH grid AS (
      SELECT unnest(generate_series(TIMESTAMP '2023-12-30 00:00:00',
                                    TIMESTAMP '2024-02-01 00:00:00',
                                    INTERVAL '18 hours')) AS boundary
    ),
    conv(event_type, factor) AS (VALUES {_K132_FACTORS_SQL}),
    nm AS (
      SELECT e.event_type,
             CAST(round(e.value * c.factor * 1000000) AS BIGINT) AS nvm,
             {_CAST_TS} AS ts
      FROM events e JOIN conv c USING (event_type)
      WHERE e.value IS NOT NULL
    ),
    al AS (
      SELECT nm.event_type, nm.nvm, g.boundary AS slot
      FROM nm ASOF JOIN grid g ON g.boundary <= nm.ts
    ),
    sl AS (
      SELECT event_type, slot, quantile_disc(nvm, 0.9) AS p90
      FROM al GROUP BY event_type, slot
    ),
    bands(band_id, lo, hi) AS (VALUES {_K132_BANDS_SQL})
    SELECT b.band_id, sl.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_slots,
           MIN(sl.p90) AS p90_min, MAX(sl.p90) AS p90_max
    FROM sl JOIN bands b ON sl.p90 >= b.lo AND sl.p90 < b.hi
    GROUP BY b.band_id, sl.event_type
    ORDER BY band_id, event_type
    """,
    tier="T2",
    survey="K7,K8,D7,C6,C9",
)
def k132_normalized_slot_p90_bands(spark, sf_dir):
    """Unit-normalized grid percentiles into bands: every reading first
    converts through a broadcast per-type factor table INTO integer
    micros (K8 — quantizing AFTER the multiply is what keeps the p90
    discrete and engine-exact), as-of aligns to an 18-HOUR grid — a
    deliberately non-calendar stride no date_trunc can express (K7) —
    then per (type, slot) the p90 comes from percentile_approx in exact
    mode (D7, accuracy 1e6 ≥ slot size ⇒ quantile_disc parity), and slot
    p90s band-join through a theta predicate (C6). Grid has 45
    boundaries (44*18h = 33 days exactly), matching generate_series's
    inclusive end."""
    from oeem_etl_spark.operators.relational import asof_align_broadcast

    conv = local_frame(
        spark,
        _K132_FACTORS, "event_type string, factor double"
    )
    ev = (
        T(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .join(F.broadcast(conv), "event_type")
        .select(
            "event_type",
            F.round(F.col("value") * F.col("factor") * 1_000_000)
            .cast("long")
            .alias("nvm"),
            "ts",
        )
    )
    n_slots = 44 + 1  # 2023-12-30 .. 2024-02-01 inclusive at 18h = 33 days
    grid = spark.range(n_slots).select(
        (
            F.lit("2023-12-30 00:00:00").cast("timestamp")
            + F.make_interval(hours=(F.col("id") * 18).cast("int"))
        ).alias("boundary"),
    )
    al = asof_align_broadcast(
        ev, grid, left_ts="ts", right_ts="boundary", value_cols=["boundary"],
        how="inner",  # oracle is a bare (inner) ASOF JOIN: pre-grid
        # events must DROP, not band-join through a NULL slot
    ).select("event_type", F.col("boundary").alias("slot"), "nvm")
    sl = al.groupBy("event_type", "slot").agg(
        F.expr("percentile_approx(nvm, 0.9, 1000000)").alias("p90")
    )
    bands = local_frame(
        spark,
        _K132_BANDS, "band_id int, lo long, hi long"
    )
    return (
        sl.join(
            F.broadcast(bands),
            (F.col("p90") >= F.col("lo")) & (F.col("p90") < F.col("hi")),
        )
        .groupBy("band_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_slots"),
            F.min("p90").alias("p90_min"),
            F.max("p90").alias("p90_max"),
        )
        .orderBy("band_id", "event_type")
    )


# ---------------------------------------------------------------------------
# j71: D13 pivot + D14 unpivot + G2 union distinct + J1 UDF + J7 register
# ---------------------------------------------------------------------------

_J71_TYPES = ["click", "view", "purchase"]
_J71_VOWELS = {"click": 1, "view": 2, "purchase": 3}


@query(
    "j71_pivot_melt_union",
    sql=f"""
    WITH base AS (
      SELECT CAST(user_id % 10 AS INT) AS decile, event_type,
             CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
               AS vm
      FROM events
      WHERE value IS NOT NULL
        AND event_type IN ({", ".join(f"'{t}'" for t in _J71_TYPES)})
      GROUP BY decile, event_type
    ),
    dup AS (
      SELECT * FROM base UNION SELECT * FROM base
    )
    SELECT decile, event_type, vm,
           CAST(CASE event_type
             {" ".join(f"WHEN '{t}' THEN {v}" for t, v in _J71_VOWELS.items())}
           END AS INT) AS n_vowels
    FROM dup ORDER BY decile, event_type
    """,
    tier="T2",
    survey="D13,D14,G2,J1,J7,D1",
)
def j71_pivot_melt_union(spark, sf_dir):
    """Pivot -> unpivot ROUNDTRIP closed by set semantics (D13+D14+G2):
    per-decile micros totals pivot WIDE on the event-type enum, melt back
    to long form, then UNION (distinct) with the original long aggregate —
    a lossless roundtrip collapses to exactly the base rows, so the union
    IS the correctness proof. The vowel count comes from a Python scalar
    UDF registered into the SQL namespace and invoked by NAME through
    spark.sql (J1+J7); the oracle states the enum's vowel counts
    symbolically."""
    ev = (
        T(spark, sf_dir, "events")
        .where(F.col("value").isNotNull() & F.col("event_type").isin(_J71_TYPES))
        .select(
            (F.col("user_id") % 10).cast("int").alias("decile"),
            "event_type",
            F.round(F.col("value") * 1_000_000).cast("long").alias("vm"),
        )
    )
    base = ev.groupBy("decile", "event_type").agg(F.sum("vm").alias("vm"))
    wide = (
        base.groupBy("decile")
        .pivot("event_type", _J71_TYPES)
        .agg(F.first("vm"))
    )
    melted = wide.unpivot(
        ["decile"], _J71_TYPES, "event_type", "vm"
    ).where(F.col("vm").isNotNull())
    roundtrip = melted.select("decile", "event_type", "vm").unionByName(
        base.select("decile", "event_type", "vm")
    ).distinct()

    spark.udf.register(
        "b9_vowels",
        lambda s: sum(c in "aeiou" for c in s) if s is not None else None,
        "int",
    )
    roundtrip.createOrReplaceTempView("j71_roundtrip")
    return spark.sql(
        """SELECT decile, event_type, vm, b9_vowels(event_type) AS n_vowels
           FROM j71_roundtrip ORDER BY decile, event_type"""
    )


# ---------------------------------------------------------------------------
# j72: J6 UDTF bigram expansion
# ---------------------------------------------------------------------------


@query(
    "j72_udtf_bigrams",
    sql="""
    WITH toks AS (
      SELECT doc_id, str_split(text, ' ') AS ws
      FROM documents WHERE doc_id <= 40
    ),
    bg AS (
      SELECT doc_id,
             ws[i] || '_' || ws[i + 1] AS bigram
      FROM toks, UNNEST(range(1, len(ws))) AS t(i)
      WHERE len(ws) >= 2
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(COUNT(DISTINCT bigram) AS BIGINT) AS n_distinct,
           MIN(bigram) AS first_lex,
           MAX(bigram) AS last_lex
    FROM bg GROUP BY doc_id ORDER BY doc_id
    """,
    tier="T3",
    survey="J6,H9,D2",
)
def j72_udtf_bigrams(spark, sf_dir):
    """Python UDTF emitting word BIGRAMS (J6 — the one-to-many parser
    shape j6 tokenizes singly): each doc's text expands to consecutive
    word pairs via a registered UDTF reached through LATERAL SQL, then
    per-doc bigram stats including a DISTINCT count (D2). The oracle
    rebuilds the pairs with an index range over the split array."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="bigram string")
    class Bigrams:
        def eval(self, text: str):
            if text is None:
                return
            ws = text.split(" ")
            for i in range(len(ws) - 1):
                yield (ws[i] + "_" + ws[i + 1],)

    spark.udtf.register("b9_bigrams", Bigrams)
    T(spark, sf_dir, "documents").where(
        F.col("doc_id") <= 40
    ).createOrReplaceTempView("j72_docs")
    return spark.sql(
        """SELECT d.doc_id,
                  COUNT(*) AS n_bigrams,
                  COUNT(DISTINCT b.bigram) AS n_distinct,
                  MIN(b.bigram) AS first_lex,
                  MAX(b.bigram) AS last_lex
           FROM j72_docs d, LATERAL b9_bigrams(d.text) b
           GROUP BY d.doc_id ORDER BY d.doc_id"""
    )


# ---------------------------------------------------------------------------
# h82: H12 json + H10 map + H11 struct + G3 intersect + H13 try-funcs
# ---------------------------------------------------------------------------


@query(
    "h82_props_shape_audit",
    sql="""
    WITH ev AS (
      SELECT event_id, event_type, user_id, props,
             CAST(json_extract(props, '$.k') AS INT) AS k
      FROM events WHERE event_id <= 5000
    ),
    a AS (SELECT DISTINCT event_type, k // 10 AS cell FROM ev
          WHERE event_id % 2 = 0),
    b AS (SELECT DISTINCT event_type, k // 10 AS cell FROM ev
          WHERE event_id % 2 = 1),
    common AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_common_cells
      FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
      GROUP BY event_type
    ),
    rowface AS (
      SELECT event_type,
             CAST(SUM(k) AS BIGINT) AS sum_k,
             CAST(SUM(user_id % 7) AS BIGINT) AS sum_d,
             CAST(MAX(k) AS INT) AS max_k,
             CAST(COUNT(TRY_CAST(substr(props, 7, 2) AS INTEGER)) AS BIGINT)
               AS n_two_digit
      FROM ev GROUP BY event_type
    )
    SELECT r.event_type, c.n_common_cells, r.sum_k, r.sum_d, r.max_k,
           r.n_two_digit
    FROM rowface r JOIN common c USING (event_type)
    ORDER BY event_type
    """,
    tier="T2",
    survey="H12,H10,H11,G3,H13,D1",
)
def h82_props_shape_audit(spark, sf_dir):
    """The payload-shape tour in one audit (H10-H13 + G3): JSON props
    extract to a typed int (H12), wrap into a MAP and a STRUCT whose
    fields drive the aggregates (H10/H11 — the oracle checks the VALUES
    those shapes carry, since DuckDB's MAP internals differ), the
    even/odd event halves INTERSECT on (type, k-bucket) cells (G3), and
    try_cast counts props whose byte 7-8 slice parses as a two-digit int
    (H13's error-safe family: 2-digit k values parse, 1- and 3-digit
    slices hit '}' or space and yield NULL, never an ANSI abort)."""
    ev = (
        T(spark, sf_dir, "events")
        .where(F.col("event_id") <= 5000)
        .select(
            "event_id",
            "event_type",
            "user_id",
            "props",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
    )
    # floor(k/10), not cast-truncate: DuckDB's // floors, so negative k
    # would diverge under (k/10).cast('int') (truncates toward zero)
    cell = F.floor(F.col("k") / 10).cast("int").alias("cell")
    a = ev.where(F.col("event_id") % 2 == 0).select("event_type", cell).distinct()
    b = ev.where(F.col("event_id") % 2 == 1).select("event_type", cell).distinct()
    common = a.intersect(b).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_common_cells")
    )
    shaped = ev.select(
        "event_type",
        F.create_map(
            F.lit("k"), F.col("k"),
            F.lit("d"), (F.col("user_id") % 7).cast("int"),
        ).alias("m"),
        F.struct(F.col("k").alias("k"), F.col("props").alias("p")).alias("s"),
    )
    rowface = shaped.select(
        "event_type",
        F.element_at("m", "k").alias("mk"),
        F.element_at("m", "d").alias("md"),
        F.col("s").getField("k").alias("sk"),
        F.substring(F.col("s").getField("p"), 7, 2)
        .try_cast("int")
        .alias("two_digit"),
    ).groupBy("event_type").agg(
        F.sum("mk").alias("sum_k"),
        F.sum("md").alias("sum_d"),
        F.max("sk").alias("max_k"),
        F.count("two_digit").alias("n_two_digit"),
    )
    return (
        rowface.join(common, "event_type")
        .select(
            "event_type", "n_common_cells", "sum_k", "sum_d", "max_k",
            "n_two_digit",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# l132: L12 conjunctive search + L11 weighted sample + H1 strings + H2 regex
# ---------------------------------------------------------------------------

_L132_TERMS = ["merge", "filter", "batch"]


@query(
    "l132_search_sample_headline",
    sql=f"""
    WITH p AS (
      SELECT doc_id, unnest(str_split(lower(text), ' ')) AS term
      FROM documents
    ),
    hits AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_occurrences
      FROM p WHERE term IN ({", ".join(f"'{t}'" for t in _L132_TERMS)})
      GROUP BY doc_id
      HAVING COUNT(DISTINCT term) = {len(_L132_TERMS)}
    ),
    sampled AS (
      SELECT doc_id, n_occurrences FROM (
        SELECT doc_id, n_occurrences,
               row_number() OVER (ORDER BY
                 pow({sql_hash_uniform('doc_id', seed=23)},
                     1.0 / CAST(n_occurrences AS DOUBLE)) DESC,
                 doc_id ASC) AS rn
        FROM hits
      ) WHERE rn <= 6
    )
    SELECT s.doc_id, s.n_occurrences,
           -- DuckDB 1.0 has no initcap; corpus tokens are lowercase, so
           -- ucfirst per token == Spark's initcap here
           upper(substr(str_split(d.text, ' ')[1], 1, 1))
             || substr(str_split(d.text, ' ')[1], 2) || ' '
             || upper(substr(str_split(d.text, ' ')[2], 1, 1))
             || substr(str_split(d.text, ' ')[2], 2) AS headline,
           CAST(regexp_extract(d.text, '([a-z]*merge[a-z]*)', 1)
                = 'merge' AS BOOLEAN) AS clean_merge,
           CAST(length(d.text) - length(replace(d.text, 'a', ''))
                AS BIGINT) AS n_letter_a
    FROM sampled s JOIN documents d USING (doc_id)
    ORDER BY s.doc_id
    """,
    tier="T3",
    survey="L12,L11,H1,H2,E5",
)
def l132_search_sample_headline(spark, sf_dir):
    """Retrieval -> weighted pick -> presentation, the search-page
    pipeline: conjunctive AND search over positional postings finds docs
    containing ALL three terms (L12), an Efraimidis-Spirakis sample
    weighted by match count picks 6 of them deterministically (L11 —
    heavier matches more likely, md5 uniforms so the oracle replays the
    draw), and the presentation layer derives a two-word initcap headline
    (H1) plus regexp/replace character diagnostics (H2). Postings filter
    pushes the IN-list to the scan; the sample is one global top-k."""
    from oeem_etl_spark.operators.search import build_postings, conjunctive_search
    from oeem_etl_spark.operators.splits import hash_uniform

    docs = T(spark, sf_dir, "documents")
    hits = conjunctive_search(build_postings(docs), _L132_TERMS)
    w = F.col("n_occurrences").cast("double")
    sampled = (
        hits.withColumn(
            "__score", F.pow(hash_uniform("doc_id", seed=23), F.lit(1.0) / w)
        )
        .orderBy(F.col("__score").desc(), F.col("doc_id").asc())
        .limit(6)
        .drop("__score")
    )
    toks = F.split(F.col("text"), " ")
    return (
        sampled.join(docs, "doc_id")
        .select(
            "doc_id",
            "n_occurrences",
            F.initcap(
                F.concat_ws(
                    " ", F.element_at(toks, 1), F.element_at(toks, 2)
                )
            ).alias("headline"),
            (
                F.regexp_extract("text", r"([a-z]*merge[a-z]*)", 1)
                == "merge"
            ).alias("clean_merge"),
            (
                F.length("text")
                - F.length(F.replace(F.col("text"), F.lit("a"), F.lit("")))
            ).cast("long").alias("n_letter_a"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# l133: L9 hash-embed + J2 pandas UDF + L4 weighted kNN vote
# ---------------------------------------------------------------------------


@query(
    "l133_embed_weighted_knn",
    sql="""
    WITH feats AS (
      SELECT doc_id, lang,
             list_transform(generate_series(1, 16), i ->
               CAST(CAST(CAST(CAST(concat('0x', substr(md5(text), 2*i - 1, 2))
                    AS INT) AS DOUBLE) / 255.0 AS FLOAT) AS DOUBLE)) AS f
      FROM documents WHERE doc_id <= 400
    ),
    weighted AS (
      SELECT doc_id, lang, f,
             CAST(round((2.0 * list_reduce(f, (a, x) -> a + x) + 1.0)
                        * 1000000) AS BIGINT) AS w_m
      FROM feats
    ),
    q AS (SELECT doc_id AS q_id, f AS qf FROM weighted WHERE doc_id <= 4),
    scored AS (
      SELECT q.q_id, c.doc_id, c.lang, c.w_m,
             ROUND(list_cosine_similarity(c.f, q.qf), 6) AS score
      FROM weighted c CROSS JOIN q
      WHERE c.doc_id > 4
    ),
    topk AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                   ORDER BY score DESC, doc_id) AS rnk
        FROM scored
      ) WHERE rnk <= 7
    ),
    votes AS (
      SELECT q_id, lang, CAST(SUM(w_m) AS BIGINT) AS vote_m,
             CAST(COUNT(*) AS BIGINT) AS n_neighbors
      FROM topk GROUP BY q_id, lang
    )
    SELECT q_id, lang AS predicted, vote_m, n_neighbors FROM votes
    QUALIFY row_number() OVER (PARTITION BY q_id
             ORDER BY vote_m DESC, lang) = 1
    ORDER BY q_id
    """,
    tier="T3",
    survey="L9,J2,L4,L3",
)
def l133_embed_weighted_knn(spark, sf_dir):
    """Hash-embedding -> WEIGHTED kNN language vote: docs embed through
    the md5-byte stub (L9 — same Arrow plumbing as a real encoder), each
    neighbor's vote weight is an affine transform of its norm1 computed
    by a VECTORIZED pandas UDF and quantized to exact micros (J2 — the
    2x+1 Series->Series kernel, so the weighted tally is
    order-independent integer math), and each of 4 query docs takes the
    argmax-weight language over its cosine top-7 corpus neighbors (L4 —
    the weighted variant of l4's majority vote)."""
    from oeem_etl_spark.functions.udfs import affine_value
    from oeem_etl_spark.functions import vector
    from oeem_etl_spark.operators import multimodal

    docs = T(spark, sf_dir, "documents").where(F.col("doc_id") <= 400)
    feats = multimodal.extract_features(
        multimodal.to_multimodal(docs, "doc_id", "text", "text/plain")
    ).select(F.col("asset_id").alias("doc_id"), "features")
    norm1 = F.aggregate(
        "features", F.lit(0.0), lambda a, v: a + v.cast("double")
    )
    weighted = (
        feats.join(docs.select("doc_id", "lang"), "doc_id")
        .withColumn("w_m", F.round(affine_value(norm1) * 1_000_000).cast("long"))
    )
    q = weighted.where(F.col("doc_id") <= 4).select(
        F.col("doc_id").alias("q_id"), F.col("features").alias("qf")
    )
    c = weighted.where(F.col("doc_id") > 4)
    scored = c.crossJoin(F.broadcast(q)).select(
        "q_id",
        "doc_id",
        "lang",
        "w_m",
        F.round(vector.cosine("features", "qf"), 6).alias("score"),
    )
    wr = Window.partitionBy("q_id").orderBy(F.col("score").desc(), "doc_id")
    topk = scored.withColumn("rnk", F.row_number().over(wr)).where(
        F.col("rnk") <= 7
    )
    votes = topk.groupBy("q_id", "lang").agg(
        F.sum("w_m").alias("vote_m"),
        F.count(F.lit(1)).alias("n_neighbors"),
    )
    wv = Window.partitionBy("q_id").orderBy(F.col("vote_m").desc(), "lang")
    return (
        votes.withColumn("rn", F.row_number().over(wv))
        .where(F.col("rn") == 1)
        .select("q_id", F.col("lang").alias("predicted"), "vote_m", "n_neighbors")
        .orderBy("q_id")
    )


# ---------------------------------------------------------------------------
# m82: L10 pagerank + D11 distinct edges + J5 micros UDAF rollup
# ---------------------------------------------------------------------------

_M82_CUST_BOUND = 8


def _m82_sql() -> str:
    from oeem_etl_spark.operators.graph import sql_pagerank

    edges = f"""
      SELECT CAST(a.l_suppkey AS VARCHAR) AS src,
             CAST(b.l_suppkey AS VARCHAR) AS dst
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_suppkey <> b.l_suppkey
      JOIN orders o ON a.l_orderkey = o.o_orderkey
      WHERE o.o_custkey <= {_M82_CUST_BOUND}
    """
    pr = sql_pagerank(edges, iterations=2, damping=0.85)
    return f"""
    WITH pr AS ({pr})
    SELECT CAST(CAST(node AS BIGINT) % 4 AS INT) AS cohort,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(CAST(CASE WHEN rank >= 0
                     THEN floor(abs(rank) * 1000000 + 0.5)
                     ELSE -floor(abs(rank) * 1000000 + 0.5) END AS BIGINT))
                AS BIGINT) AS rank_micros
    FROM pr GROUP BY cohort ORDER BY cohort
    """


@query(
    "m82_copurchase_rank_rollup",
    sql=_m82_sql(),
    tier="T3",
    survey="L10,D11,J5,C10",
)
def m82_copurchase_rank_rollup(spark, sf_dir):
    """PageRank over the supplier CO-PURCHASE graph rolled up by an exact
    micros UDAF: suppliers sharing an order (bounded customer subgraph)
    self-join into directed edges (C10), explicit dropDuplicates makes
    the simple graph (D11 — the oracle's DISTINCT twin), 2-iteration
    integer-micros PageRank scores every supplier (L10), and per
    suppkey%4 cohort the ranks total through the micros_total
    grouped-agg pandas UDAF (J5 — half-away-from-zero quantization, the
    same dsum discipline, recomputed symbolically by the oracle)."""
    from oeem_etl_spark.functions.udfs import micros_total
    from oeem_etl_spark.operators.graph import pagerank

    o = (
        T(spark, sf_dir, "orders")
        .where(F.col("o_custkey") <= _M82_CUST_BOUND)
        .select("o_orderkey")
    )
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    li = li.join(F.broadcast(o), li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey", "l_suppkey"
    )
    l2 = li.select("l_orderkey", F.col("l_suppkey").alias("s2"))
    edges = (
        li.join(l2, "l_orderkey")
        .where(F.col("l_suppkey") != F.col("s2"))
        .select(
            F.col("l_suppkey").cast("string").alias("src"),
            F.col("s2").cast("string").alias("dst"),
        )
        .dropDuplicates()
    )
    ranks = pagerank(edges, iterations=2, damping=0.85).select(
        (F.col("node").cast("long") % 4).cast("int").alias("cohort"),
        F.round("rank", 9).alias("rank"),
    )
    # a grouped-agg pandas UDF cannot share an .agg() with JVM aggregates
    # (INVALID_PANDAS_UDF_PLACEMENT) — two aggs over 4 cohorts, joined
    counts = ranks.groupBy("cohort").agg(F.count(F.lit(1)).alias("n_nodes"))
    totals = ranks.groupBy("cohort").agg(
        micros_total("rank").alias("rank_micros")
    )
    return (
        counts.join(totals, "cohort")
        .select("cohort", "n_nodes", "rank_micros")
        .orderBy("cohort")
    )


# ---------------------------------------------------------------------------
# l134: L13 BPE encode -> per-lang compression profile
# ---------------------------------------------------------------------------


def _l134_sql() -> str:
    from oeem_etl_spark.plans.corpus_queries import (
        _BPE_CTE,
        _BPE_MERGES,
        _bpe_apply_cte,
    )

    rng = "doc_id >= 200 AND doc_id < 280"
    return f"""
    {_BPE_CTE},
    {_bpe_apply_cte(rng)},
    dwords AS (
      SELECT doc_id, unnest(ws) AS word
      FROM (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
        FROM documents WHERE {rng}
      )
    ),
    perdoc AS (
      SELECT d.doc_id, CAST(SUM(len(a.syms)) AS BIGINT) AS n_tokens
      FROM dwords d JOIN a{_BPE_MERGES} a USING (word)
      GROUP BY d.doc_id
    )
    SELECT doc.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(p.n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(doc.n_chars) AS BIGINT) AS total_chars,
           CAST((SUM(p.n_tokens) * 1000000) // SUM(doc.n_chars) AS BIGINT)
             AS tokens_per_char_micros
    FROM perdoc p JOIN documents doc USING (doc_id)
    GROUP BY doc.lang ORDER BY doc.lang
    """


@query(
    "l134_bpe_compression_profile",
    sql=_l134_sql(),
    tier="T3",
    survey="L13,L7,D1",
)
def l134_bpe_compression_profile(spark, sf_dir):
    """The tokenizer-efficiency report every BPE training run ends with:
    train 8 merges on the full corpus, ENCODE an 80-doc held-out slice,
    and profile compression per language — docs, total BPE tokens, total
    chars, and exact tokens-per-char in integer micros (floor division,
    so no float ratio ever reaches the compare). The l64 family certifies
    train/encode mechanics; this face certifies the aggregate REPORT a
    tokenizer-selection pipeline actually consumes (L13 + L7)."""
    from oeem_etl_spark.operators import bpe
    from oeem_etl_spark.plans.corpus_queries import _BPE_MERGES, _BPE_TOP_WORDS

    docs = T(spark, sf_dir, "documents")
    merges, _ = bpe.bpe_train(docs, n_merges=_BPE_MERGES, top_words=_BPE_TOP_WORDS)
    held = docs.where((F.col("doc_id") >= 200) & (F.col("doc_id") < 280))
    enc = bpe.bpe_encode(held, merges)
    joined = enc.join(docs.select("doc_id", "lang", "n_chars"), "doc_id")
    return (
        joined.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "total_tokens",
            "total_chars",
            F.expr("total_tokens * 1000000 div total_chars").alias(
                "tokens_per_char_micros"
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# i75: A9 stream source + I7 stream-static join + I1 tumbling + A10 sink
# ---------------------------------------------------------------------------

_I75_FACTORS = [("view", 2), ("click", 3), ("purchase", 5),
                ("signup", 1), ("error", 0)]
_I75_FACTORS_SQL = ", ".join(f"('{t}', {f})" for t, f in _I75_FACTORS)


@query(
    "i75_stream_enrich_daily",
    sql=f"""
    WITH conv(event_type, pts) AS (VALUES {_I75_FACTORS_SQL})
    SELECT CAST(date_trunc('day', {_CAST_TS}) AS TIMESTAMP) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(c.pts) AS BIGINT) AS points
    FROM events e JOIN conv c USING (event_type)
    WHERE c.pts > 0
    GROUP BY window_start
    ORDER BY window_start
    """,
    tier="T3",
    survey="A9,A10,I1,I7,I8",
)
def i75_stream_enrich_daily(spark, sf_dir):
    """The enrich-then-window streaming topology END-TO-END through a
    foreachBatch sink: the events directory streams in (A9), each
    micro-batch joins the static per-type points dim — re-planned and
    broadcast per batch, so dimension updates would take effect mid-
    stream (I7) — zero-point rows drop, daily tumbling windows count and
    total the points (I1), and COMPLETE-mode emissions land through the
    batch-ordinal foreachBatch parquet capture (A10/I8); the final
    batch's rows are the answer. Integer points, no float path at all."""
    from oeem_etl_spark.streaming import harness, ops
    from oeem_etl_spark.streaming.source import events_stream

    conv = local_frame(spark, _I75_FACTORS, "event_type string, pts int")
    sdf = events_stream(spark, sf_dir)
    enriched = ops.enrich(sdf, F.broadcast(conv), "event_type").where(
        F.col("pts") > 0
    )
    out = ops.tumbling_agg(
        enriched,
        "1 day",
        [],
        [
            F.count(F.lit(1)).alias("n_events"),
            F.sum("pts").cast("long").alias("points"),
        ],
    )
    path = os.path.join(_TMP, f"i75_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    harness.foreach_batch_capture(out, path)
    drained = spark.read.parquet(path)
    # update-mode contract: keep the LAST batch's row PER WINDOW (a
    # window not updated in the final micro-batch would vanish under a
    # global last-batch filter — caught by the r9 2-batch pin,
    # tests/test_streaming.py::test_enrich_tumbling_multi_batch_capture)
    wlast = Window.partitionBy("window_start").orderBy(
        F.col("_batch_id").desc()
    )
    return (
        drained.withColumn("rn", F.row_number().over(wlast))
        .where(F.col("rn") == 1)
        .select(
            F.col("window_start").cast("timestamp_ntz").alias("window_start"),
            "n_events",
            "points",
        )
        .orderBy("window_start")
    )


# ---------------------------------------------------------------------------
# i76: I5 streaming dedup + I2 sliding window
# ---------------------------------------------------------------------------


@query(
    "i76_dedup_sliding_typed",
    sql=f"""
    WITH d AS (
      SELECT DISTINCT user_id, event_type,
             time_bucket(INTERVAL '30 minutes', {_CAST_TS}) AS hb
      FROM events
    ),
    cand AS (
      SELECT event_type,
             unnest([time_bucket(INTERVAL '90 minutes', hb),
                     time_bucket(INTERVAL '90 minutes', hb)
                       - INTERVAL '90 minutes']) AS window_start
      FROM d
    ),
    w AS (
      SELECT event_type, window_start, COUNT(*) AS active_keys
      FROM cand
      GROUP BY event_type, window_start
    )
    SELECT event_type, window_start, CAST(active_keys AS BIGINT)
             AS active_keys
    FROM w ORDER BY event_type, window_start
    """,
    tier="T3",
    survey="I2,I5,I8",
)
def i76_dedup_sliding_typed(spark, sf_dir):
    """Streaming dedup feeding TYPED sliding windows: state first dedups
    (user, type, 30-min bucket) activity keys (I5), then 3-hour windows
    sliding every 90 minutes count each type's distinct active keys
    (I2) — each deduped key lands in exactly 180/90 = 2 windows, which
    is what the oracle's two-slot unnest replays. Differs from the
    i41 face in grain (30-min keys), slide ratio, and the per-type
    grouping that makes the window state (window x type)-keyed."""
    from oeem_etl_spark.streaming import harness, ops
    from oeem_etl_spark.streaming.source import events_stream

    sdf = events_stream(spark, sf_dir).select(
        "user_id",
        "event_type",
        F.date_trunc("minute", F.col("ts")).alias("m"),
    ).select(
        "user_id",
        "event_type",
        # 30-minute bucket: floor minutes to 0/30
        F.timestamp_seconds(
            (F.unix_timestamp("m") / 1800).cast("long") * 1800
        ).alias("hb"),
    )
    deduped = ops.dedup_keys(sdf, ["user_id", "event_type", "hb"])
    out = ops.sliding_agg(
        deduped,
        "180 minutes",
        "90 minutes",
        ["event_type"],
        [F.count(F.lit(1)).alias("active_keys")],
        ts_col="hb",
    )
    return (
        harness.run_available_now(out, "complete")
        .select(
            "event_type",
            F.col("window_start").cast("timestamp_ntz").alias("window_start"),
            "active_keys",
        )
        .orderBy("event_type", "window_start")
    )


# ---------------------------------------------------------------------------
# i77: I6 extremes state + D4 ordered first/last reconcile
# ---------------------------------------------------------------------------


@query(
    "i77_extremes_firstlast",
    sql=f"""
    WITH b AS (
      SELECT user_id, {_CAST_TS} AS ts, event_id, value FROM events
      WHERE user_id <= 80 AND value IS NOT NULL
    ),
    ex AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             ROUND(MIN(value), 6) AS min_value,
             ROUND(MAX(value), 6) AS max_value
      FROM b GROUP BY user_id
    ),
    fl AS (
      SELECT user_id,
             first(ROUND(value, 6) ORDER BY ts, event_id) AS first_value,
             first(ROUND(value, 6) ORDER BY ts DESC, event_id DESC)
               AS last_value
      FROM b GROUP BY user_id
    )
    SELECT ex.user_id, ex.n_events, ex.min_value, ex.max_value,
           fl.first_value, fl.last_value,
           CAST(fl.first_value = ex.min_value
                OR fl.first_value = ex.max_value AS BOOLEAN) AS first_is_extreme
    FROM ex JOIN fl USING (user_id)
    ORDER BY ex.user_id
    """,
    tier="T3",
    survey="I6,D4,I8",
)
def i77_extremes_firstlast(spark, sf_dir):
    """Streaming bounds tracker RECONCILED with ordered first/last: the
    per-user (min, max, count) envelope accumulates through
    applyInPandasWithState in exact micros (I6 — idempotent under
    replay), drains in update mode, and joins the batch-side
    deterministic first/last observation per user — row_number over
    (ts, event_id), never bare F.first on an unsorted group (D4). The
    reconcile column asks whether the FIRST reading was already an
    envelope edge; the oracle recomputes everything with arg_min/arg_max
    over the same composite order."""
    from oeem_etl_spark.streaming import harness, ops
    from oeem_etl_spark.streaming.source import events_stream

    sdf = events_stream(spark, sf_dir).where(
        (F.col("user_id") <= 80) & F.col("value").isNotNull()
    )
    updates = ops.extremes_state(sdf)
    path = os.path.join(_TMP, f"i77_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    harness.foreach_batch_capture(updates, path)
    drained = spark.read.parquet(path)
    wlast = Window.partitionBy("user_id").orderBy(F.col("_batch_id").desc())
    ex = (
        drained.withColumn("rn", F.row_number().over(wlast))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round("min_value", 6).alias("min_value"),
            F.round("max_value", 6).alias("max_value"),
        )
    )
    b = (
        T(spark, sf_dir, "events")
        .where((F.col("user_id") <= 80) & F.col("value").isNotNull())
        .select("user_id", "ts", "event_id", F.round("value", 6).alias("v"))
    )
    wasc = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wdesc = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    fl = (
        b.select(
            "user_id",
            F.first("v").over(wasc).alias("first_value"),
            F.first("v").over(wdesc).alias("last_value"),
            F.row_number().over(wasc).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        ex.join(fl, "user_id")
        .select(
            "user_id",
            "n_events",
            "min_value",
            "max_value",
            "first_value",
            "last_value",
            (
                (F.col("first_value") == F.col("min_value"))
                | (F.col("first_value") == F.col("max_value"))
            ).alias("first_is_extreme"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# i78: I3 session windows + K11 behavioral session profile
# ---------------------------------------------------------------------------


@query(
    "i78_user_session_profile",
    sql=f"""
    WITH e AS (
      SELECT user_id, {_CAST_TS} AS ts,
             CAST(round(COALESCE(value, 0) * 1000000) AS BIGINT) AS vm
      FROM events WHERE user_id <= 100
    ),
    m AS (
      SELECT user_id, ts, vm,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL '2 hours'
                  THEN 1 ELSE 0 END AS brk
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    i AS (
      SELECT user_id, ts, vm,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    ),
    s AS (
      SELECT user_id, sid,
             MIN(ts) AS session_start,
             MAX(ts) + INTERVAL '2 hours' AS session_end,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(vm) AS BIGINT) AS vm_total
      FROM i GROUP BY user_id, sid
    )
    SELECT user_id, CAST(session_start AS TIMESTAMP) AS session_start,
           CAST(epoch_us(session_end) - epoch_us(session_start) AS BIGINT)
             AS dur_us,
           n, vm_total
    FROM s WHERE n >= 3
    ORDER BY user_id, session_start
    """,
    tier="T3",
    survey="I3,K11,I8",
)
def i78_user_session_profile(spark, sf_dir):
    """Per-USER session profiles via native session windows (I3): 2-hour
    gap sessionization of each user's event stream, per-session exact
    micros total, duration (window end = last event + gap, Spark's
    session_window contract, which the oracle rebuilds with the
    gaps-and-islands idiom), and a >= 3-events engagement gate — the
    behavioral session-quality profile (K11). Batch-mode session_window
    here; the same transformation drains under availableNow in the i70
    family, which certifies batch-stream equivalence of the operator."""
    ev = (
        T(spark, sf_dir, "events")
        .where(F.col("user_id") <= 100)
        .select(
            "user_id",
            "ts",
            F.round(F.coalesce("value", F.lit(0.0)) * 1_000_000)
            .cast("long")
            .alias("vm"),
        )
    )
    sw = F.session_window("ts", "2 hours")
    agged = ev.groupBy(sw.alias("w"), "user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vm").alias("vm_total"),
    )
    return (
        agged.where(F.col("n") >= 3)
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            (
                F.unix_micros(F.col("w.end"))
                - F.unix_micros(F.col("w.start"))
            ).alias("dur_us"),
            "n",
            "vm_total",
        )
        .orderBy("user_id", "session_start")
    )


# ---------------------------------------------------------------------------
# a63: A3 ndjson + A4 text log DUAL-PARSE reconcile + K1/K2 + B7
# ---------------------------------------------------------------------------


@query(
    "a63_dual_feed_reconcile",
    sql=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
             AS sum_vm,
           CAST(0 AS BIGINT) AS n_disagree
    FROM events
    WHERE event_id <= 4000 AND value IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
    tier="T3",
    survey="A3,A4,K2,K1,B7,C1",
)
def a63_dual_feed_reconcile(spark, sf_dir):
    """DUAL-PARSE reconciliation (the ingest-integrity audit a56's union
    face never runs): the SAME event slice is exported twice — NDJSON
    (A3) and a pipe-delimited raw text log whose fields come back out
    through regexp_extract (A4) with the timestamp re-parsed by an
    explicit strptime format (K2) — both feeds standardized to the
    canonical (event_id, event_type, vm) schema (K1) with every staging
    column dropped (B7), then inner-joined on event_id and counted for
    DISAGREEMENT. The oracle pins n_disagree = 0: a lossy render, a
    regex off by one, or a timestamp that doesn't round-trip all break
    the zero."""
    from oeem_etl_spark.operators.timeseries import standardize_schema

    root = os.path.join(_TMP, f"a63_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(root, ignore_errors=True)
    jdir, tdir = os.path.join(root, "json"), os.path.join(root, "text")

    ev = (
        T(spark, sf_dir, "events")
        .where((F.col("event_id") <= 4000) & F.col("value").isNotNull())
        .select(
            "event_id",
            "event_type",
            "ts",
            F.round(F.col("value") * 1_000_000).cast("long").alias("vm"),
        )
    )
    ev.write.mode("overwrite").json(jdir)
    ev.select(
        F.concat_ws(
            "|",
            F.col("event_id").cast("string"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
            "event_type",
            F.col("vm").cast("string"),
        ).alias("value")
    ).write.mode("overwrite").text(tdir)

    js_raw = spark.read.schema(
        "event_id string, event_type string, ts timestamp, vm string"
    ).json(jdir)
    js = standardize_schema(
        js_raw,
        {
            "event_id": ("event_id", "long"),
            "event_type": ("event_type", None),
            "vm": ("vm", "long"),
        },
    )
    tx_raw = spark.read.text(tdir)
    pat = r"^(\d+)\|([^|]+)\|([^|]+)\|(-?\d+)$"
    tx = tx_raw.select(
        F.regexp_extract("value", pat, 1).cast("long").alias("event_id"),
        F.to_timestamp(
            F.regexp_extract("value", pat, 2), "yyyy-MM-dd HH:mm:ss.SSSSSS"
        ).alias("ts"),
        F.regexp_extract("value", pat, 3).alias("event_type"),
        F.regexp_extract("value", pat, 4).cast("long").alias("vm"),
    )
    tx = standardize_schema(
        tx,
        {
            "event_id": ("event_id", None),
            "t_type": ("event_type", None),
            "t_vm": ("vm", None),
        },
    )
    joined = js.join(tx, "event_id")
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("vm").alias("sum_vm"),
            F.sum(
                F.when(
                    (F.col("event_type") != F.col("t_type"))
                    | (F.col("vm") != F.col("t_vm")),
                    1,
                ).otherwise(0)
            ).alias("n_disagree"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# a64: A11 fetch + A2 csv scan + B1/B5 parse + A7 csv sink + A12 upload
# ---------------------------------------------------------------------------


@query(
    "a64_orders_csv_pipeline",
    sql=f"""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders
    WHERE o_custkey <= 300 AND o_orderdate >= TIMESTAMP '1995-01-01'
    GROUP BY priority ORDER BY priority
    """,
    tier="T3",
    survey="A11,A2,A7,A12,B1,B5,B3",
)
def a64_orders_csv_pipeline(spark, sf_dir):
    """The full raw-CSV ingest loop on the ORDERS feed (a45 walks
    documents and never re-reads its sink; this face round-trips BOTH
    CSV directions): shards land through the flaky fetch transport with
    retry + skip-on-exists (A11), parse with an all-string schema then
    rename/cast — price to cents, date string to timestamp (B1+B5) —
    filter the 1995+ window (B3), rewrite the CLEANED feed through the
    CSV sink with headers (A7), re-read THAT with an explicit typed
    schema (A2 — proving the sink emits what the scanner parses), roll
    up per priority, and push through the flaky chunked datastore with
    idempotency keys (A12). The returned frame is the datastore's final
    state."""
    from oeem_etl_spark.sources import fetch as fx
    from oeem_etl_spark.sources import upload as up

    root = os.path.join(_TMP, f"a64_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(root, ignore_errors=True)
    remote = os.path.join(root, "remote")
    fstate = os.path.join(root, "fstate")
    ustate = os.path.join(root, "ustate")
    landing = os.path.join(root, "landing")
    clean_dir = os.path.join(root, "clean")
    dsroot = os.path.join(root, "ds")
    for d in (remote, fstate, ustate):
        os.makedirs(d, exist_ok=True)

    o = (
        T(spark, sf_dir, "orders")
        .where(F.col("o_custkey") <= 300)
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.col("o_totalprice").cast("string").alias("price_raw"),
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias(
                "date_raw"
            ),
        )
    )
    o.repartition(3).write.mode("overwrite").option("header", True).csv(remote)
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
        "o_orderkey string, o_orderpriority string, "
        "price_raw string, date_raw string"
    ).csv(landing)
    clean = (
        raw.withColumnRenamed("o_orderpriority", "priority")
        .withColumn(
            "cents", F.round(F.col("price_raw").cast("double") * 100).cast("long")
        )
        .withColumn("odate", F.col("date_raw").cast("timestamp"))
        .where(F.col("odate") >= F.lit("1995-01-01").cast("timestamp"))
        .select("o_orderkey", "priority", "cents", "odate")
    )
    clean.select(
        "o_orderkey",
        "priority",
        F.col("cents").cast("string").alias("cents"),
    ).write.mode("overwrite").option("header", True).csv(clean_dir)

    typed = spark.read.option("header", True).schema(
        "o_orderkey long, priority string, cents long"
    ).csv(clean_dir)
    agg = typed.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("revenue_cents"),
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
    state = up.FilesystemDatastore(dsroot).state("priority", "seq")
    rows = [
        (str(v["priority"]), int(v["n_orders"]), int(v["revenue_cents"]))
        for v in state.values()
    ]
    return local_frame(
        spark,
        rows, "priority string, n_orders long, revenue_cents long"
    ).orderBy("priority")
