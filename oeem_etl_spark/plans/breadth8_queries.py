"""Eighth-face COMBO queries — the round-9 rotation reserve.

Authored EARLY in round 8 (the ledger-neutral rule: reserves land before
the final sweep, never in the close-out snapshot). Simulated against the
ledger after r7's driver sweep: 8 tags are starved NOW (C6 G3 H13 I5 K2
K8 L11 L12 — they force already-checked picks into the r8 prefix) and 48
tags starve for r9 once r8's sweep lands. Each query here is one coherent
pipeline re-covering a bundle of those rows with NEW semantics (the combo
discipline of breadth3-7); the now-starved 8 get TWO fresh providers each
(one for the r8 prefix, one to survive into r9). Same oracle discipline
as the rest of the registry: exact integer-micros value math, total
orders everywhere, streaming drains through the availableNow harness.
"""

from __future__ import annotations

import functools
import os
import shutil
import tempfile

from pyspark.sql import Window
from pyspark.sql import functions as F

from oeem_etl_spark.catalog import local_frame
from oeem_etl_spark.plans.registry import query
from oeem_etl_spark.plans.util import T, dsum, sql_dsum

_TMP = os.path.join(
    tempfile.gettempdir(), f"oeem_etl_spark_breadth8_{os.getpid()}"
)

_CAST_TS = "CAST(ts AS TIMESTAMP)"


# ---------------------------------------------------------------------------
# c80: C6 range join + C10 self join + G3 intersect + G4 except + A5
# ---------------------------------------------------------------------------

# OVERLAPPING price bands: the range join assigns a part to EVERY band it
# falls in; the CASE derivation below assigns only the FIRST match, so the
# set algebra between the two assignments is non-trivial by construction.
_C80_BANDS = [(1, 900.0, 1200.0), (2, 1100.0, 1500.0), (3, 1400.0, 2000.0)]

_C80_BANDS_SQL = ", ".join(f"({b}, {lo}, {hi})" for b, lo, hi in _C80_BANDS)

_C80_FIRST_CASE = (
    "CASE "
    + " ".join(
        f"WHEN p_retailprice >= {lo} AND p_retailprice < {hi} THEN {b}"
        for b, lo, hi in _C80_BANDS
    )
    + " END"
)


@query(
    "c80_price_band_overlap_audit",
    sql=f"""
    WITH bands(band_id, lo, hi) AS (VALUES {_C80_BANDS_SQL}),
    multi AS (
      SELECT b.band_id, p.p_partkey, p.p_brand
      FROM part p JOIN bands b
        ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
    ),
    firstm AS (
      SELECT {_C80_FIRST_CASE} AS band_id, p_partkey
      FROM part WHERE p_size > 25 AND {_C80_FIRST_CASE} IS NOT NULL
    ),
    parts AS (
      SELECT 'parts' AS face, band_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM multi GROUP BY band_id
    ),
    pairs AS (
      SELECT 'pairs' AS face, a.band_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM multi a JOIN multi b
        ON a.band_id = b.band_id AND a.p_brand = b.p_brand
       AND a.p_partkey < b.p_partkey
      GROUP BY a.band_id
    ),
    sect AS (
      SELECT 'sect' AS face, band_id, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT band_id, p_partkey FROM multi
        INTERSECT
        SELECT band_id, p_partkey FROM firstm
      ) GROUP BY band_id
    ),
    minus AS (
      SELECT 'minus' AS face, band_id, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT band_id, p_partkey FROM multi
        EXCEPT
        SELECT band_id, p_partkey FROM firstm
      ) GROUP BY band_id
    )
    SELECT * FROM (
      SELECT * FROM parts UNION ALL SELECT * FROM pairs
      UNION ALL SELECT * FROM sect UNION ALL SELECT * FROM minus
    ) ORDER BY face, band_id
    """,
    tier="T2",
    survey="C6,C10,G3,G4,A5",
)
def c80_price_band_overlap_audit(spark, sf_dir):
    """Overlapping-price-band audit in one pipeline: a broadcast RANGE
    join assigns every part to every band containing its retail price
    (C6 — bands overlap, so assignment is a multi-map); a same-(band,
    brand) SELF-join counts intra-band brand pairs (C10, key-bucketed,
    never all-pairs); an inline first-match CASE derivation over the
    size>25 subset provides the second assignment, and INTERSECT (G3) /
    EXCEPT (G4) between the two expose exactly the overlap-spill and
    small-size rows. Band table is a 3-row in-memory source (A5)."""
    part = T(spark, sf_dir, "part")
    bands = local_frame(
        spark,
        _C80_BANDS, "band_id int, lo double, hi double"
    )
    multi = part.join(
        F.broadcast(bands),
        (F.col("p_retailprice") >= F.col("lo"))
        & (F.col("p_retailprice") < F.col("hi")),
    ).select("band_id", "p_partkey", "p_brand")

    # WHEN chain in declaration order (first match wins)
    first_band = F.coalesce(
        *[
            F.when(
                (F.col("p_retailprice") >= lo) & (F.col("p_retailprice") < hi),
                F.lit(b),
            )
            for b, lo, hi in _C80_BANDS
        ]
    )
    firstm = (
        part.where(F.col("p_size") > 25)
        .select(first_band.alias("band_id"), "p_partkey")
        .where(F.col("band_id").isNotNull())
    )

    a = multi.alias("a")
    b = multi.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .groupBy(F.col("a.band_id").alias("band_id"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("pairs").alias("face"), "band_id", "n")
    )
    parts_f = (
        multi.groupBy("band_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("parts").alias("face"), "band_id", "n")
    )
    mk = multi.select("band_id", "p_partkey")
    sect = (
        mk.intersect(firstm)
        .groupBy("band_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("sect").alias("face"), "band_id", "n")
    )
    minus = (
        mk.subtract(firstm)
        .groupBy("band_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("minus").alias("face"), "band_id", "n")
    )
    return (
        parts_f.unionByName(pairs)
        .unionByName(sect)
        .unionByName(minus)
        .orderBy("face", "band_id")
    )


# ---------------------------------------------------------------------------
# c81: C8 as-of + C7 interval overlap + C2 full outer + E4 first_value + B6
# ---------------------------------------------------------------------------

_C81_CAMPAIGNS = [
    (1, "1996-01-01", "1996-07-01"),
    (2, "1997-01-01", "1998-01-01"),
    (3, "1999-06-01", "2000-01-01"),
    (4, "2000-06-01", "2002-01-01"),
]

_C81_CAMP_SQL = ", ".join(
    f"({c}, TIMESTAMP '{s}', TIMESTAMP '{e}')" for c, s, e in _C81_CAMPAIGNS
)


@query(
    "c81_campaign_attribution_reconcile",
    sql=f"""
    WITH o AS (
      SELECT o_orderkey, o_custkey, o_orderdate,
             first_value(o_orderdate) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS cohort_start,
             COALESCE(lead(o_orderdate) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ), TIMESTAMP '2002-01-01') AS next_date
      FROM orders WHERE o_custkey <= 300
    ),
    camp(campaign_id, c_start, c_end) AS (VALUES {_C81_CAMP_SQL}),
    ov AS (
      SELECT o.o_orderkey, c.campaign_id
      FROM o JOIN camp c
        ON o.o_orderdate < c.c_end AND c.c_start < o.next_date
    ),
    asf AS (
      SELECT o.o_orderkey,
             COALESCE((SELECT MAX(c.campaign_id) FROM camp c
                       WHERE c.c_start <= o.o_orderdate), 0) AS campaign_id
      FROM o
    ),
    rec AS (
      SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
             COALESCE(a.campaign_id, b.campaign_id) AS campaign_id,
             CASE WHEN a.o_orderkey IS NULL THEN 0 ELSE 1 END AS in_overlap,
             CASE WHEN b.o_orderkey IS NULL THEN 0 ELSE 1 END AS in_asof
      FROM ov a FULL JOIN asf b
        ON a.o_orderkey = b.o_orderkey AND a.campaign_id = b.campaign_id
    )
    SELECT r.campaign_id, r.in_overlap, r.in_asof,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN o.o_orderdate = o.cohort_start
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_first
    FROM rec r JOIN o ON r.o_orderkey = o.o_orderkey
    GROUP BY r.campaign_id, r.in_overlap, r.in_asof
    ORDER BY campaign_id, in_overlap, in_asof
    """,
    tier="T2",
    survey="C8,C7,C2,E4,B6,A5",
)
def c81_campaign_attribution_reconcile(spark, sf_dir):
    """Campaign attribution by TWO independent methods, reconciled with a
    FULL OUTER join (C2): method A interval-overlap-joins each order's
    coverage interval [orderdate, next orderdate) against the campaign
    windows (C7); method B as-of joins each order to the latest campaign
    started on-or-before it (C8, backward, NULL→0 for pre-campaign
    orders — B6). Cohort start per customer is a first_value window (E4);
    campaigns are a 4-row in-memory dim (A5). Output: per (campaign,
    found-by-overlap, found-by-asof): order count and how many were the
    customer's first order."""
    from oeem_etl_spark.operators.relational import (
        asof_align_broadcast,
        interval_overlap_join,
    )

    o = (
        T(spark, sf_dir, "orders")
        .where(F.col("o_custkey") <= 300)
        .select("o_orderkey", "o_custkey", "o_orderdate")
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
    ).localCheckpoint()
    camp = local_frame(
        spark,
        [(c, s, e) for c, s, e in _C81_CAMPAIGNS],
        "campaign_id int, c_start string, c_end string",
    ).select(
        "campaign_id",
        F.col("c_start").cast("timestamp").alias("c_start"),
        F.col("c_end").cast("timestamp").alias("c_end"),
    )

    ov = interval_overlap_join(
        o.select("o_orderkey", "o_orderdate", "next_date"),
        camp,
        "o_orderdate",
        "next_date",
        "c_start",
        "c_end",
    ).select("o_orderkey", "campaign_id")

    asf = asof_align_broadcast(
        o.select("o_orderkey", "o_orderdate"),
        camp.select("c_start", "campaign_id"),
        left_ts="o_orderdate",
        right_ts="c_start",
        value_cols=["campaign_id"],
    ).select(
        "o_orderkey", F.coalesce("campaign_id", F.lit(0)).alias("campaign_id")
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
        rec.join(o.select("o_orderkey", "o_orderdate", "cohort_start"), "o_orderkey")
        .groupBy("campaign_id", "in_overlap", "in_asof")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.when(F.col("o_orderdate") == F.col("cohort_start"), 1).otherwise(0)
            ).alias("n_first"),
        )
        .orderBy("campaign_id", "in_overlap", "in_asof")
    )


# ---------------------------------------------------------------------------
# a60: A2/A7 csv roundtrip + K2 parse_timestamps + K8 normalize_units + B1
# ---------------------------------------------------------------------------

_A60_UNITS = [
    ("view", "Wh"),
    ("click", "kWh"),
    ("purchase", "MWh"),
    ("signup", "kWh"),
    ("error", "Wh"),
]
_A60_FACTORS = [("Wh", 0.001), ("kWh", 1.0), ("MWh", 1000.0)]

_A60_FACTOR_CASE = (
    "CASE event_type "
    + " ".join(
        f"WHEN '{et}' THEN {dict(_A60_FACTORS)[u]}" for et, u in _A60_UNITS
    )
    + " END"
)


@query(
    "a60_csv_units_timeparse",
    sql=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum(f'value * ({_A60_FACTOR_CASE})', 'kwh_total')},
           MAX(date_trunc('second', {_CAST_TS})) AS last_ts
    FROM events WHERE user_id <= 300
    GROUP BY event_type ORDER BY event_type
    """,
    tier="T2",
    survey="A2,A7,K2,K8,B1",
)
def a60_csv_units_timeparse(spark, sf_dir):
    """The meter-feed CSV loop with STRING timestamps and MIXED units: the
    extract lands as headered CSV with ts formatted dd/MM/yyyy HH:mm:ss
    and a unit column (Wh/kWh/MWh by event type) (A7); the parse stage
    reads it back all-string (A2), parses the timestamp with an explicit
    non-ISO format (K2 — second-truncated by construction, mirrored by
    date_trunc on the oracle side), renames value→reading (B1), and
    normalizes everything to kWh through a broadcast unit-factor dim
    (K8). Per-type rollup: count, exact kWh micros total, latest parsed
    reading time."""
    root = os.path.join(_TMP, f"a60_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(root, ignore_errors=True)
    remote = os.path.join(root, "csv")

    unit_map = F.coalesce(
        *[
            F.when(F.col("event_type") == et, F.lit(u))
            for et, u in _A60_UNITS
        ]
    )
    ev = (
        T(spark, sf_dir, "events")
        .where(F.col("user_id") <= 300)
        .select(
            "event_type",
            F.date_format("ts", "dd/MM/yyyy HH:mm:ss").alias("ts_s"),
            unit_map.alias("unit"),
            "value",
        )
    )
    ev.repartition(2).write.mode("overwrite").option("header", True).csv(remote)

    raw = spark.read.option("header", True).schema(
        "event_type string, ts_s string, unit string, value string"
    ).csv(remote)
    factors = local_frame(spark, _A60_FACTORS, "unit string, to_kwh double")
    clean = (
        raw.withColumnRenamed("value", "reading")
        .withColumn("reading", F.col("reading").cast("double"))
        .withColumn(
            "parsed_ts", F.to_timestamp("ts_s", "dd/MM/yyyy HH:mm:ss")
        )
        .join(F.broadcast(factors), "unit")
    )
    return (
        clean.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("reading") * F.col("to_kwh"), "kwh_total"),
            F.max("parsed_ts").alias("last_ts"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# a61: A11 fetch + A12 bulk upsert + K6 merge + D12 keep-latest + K5 dedupe
# ---------------------------------------------------------------------------


@query(
    "a61_fetch_upsert_reconcile",
    # The 10% restatement is computed in EXACT INTEGER CENTS
    # ((cents*11 + 5) // 10 — half-up), not ROUND(price * 1.1, 2):
    # money×1.1 manufactures 3-decimal .xx5 ties where Spark's round
    # (HALF_UP on the double's SHORTEST DECIMAL REPR via
    # BigDecimal.valueOf) and DuckDB's round (on the BINARY value)
    # legitimately disagree — found by this query's first draft at
    # sf0.01 (o_orderkey 546: 283256.85*1.1 = 311582.535 -> Spark
    # 311582.54, DuckDB .53). Pinned in tests/test_misc.py.
    sql="""
    WITH m AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 3 = 0 THEN 'R'
                  ELSE o_orderstatus END AS status,
             CASE WHEN o_orderkey % 3 = 0 THEN
               ((CAST(ROUND(o_totalprice * 100) AS BIGINT) * 11 + 5) // 10)
               / 100.0
                  ELSE o_totalprice END AS price
      FROM orders WHERE o_orderkey <= 600
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(price * 1000000) AS BIGINT)) AS BIGINT)
             AS total_micros,
           CAST(0 AS BIGINT) AS n_drift
    FROM m GROUP BY status ORDER BY status
    """,
    tier="T2",
    survey="A11,A12,K6,D12,K5",
)
def a61_fetch_upsert_reconcile(spark, sf_dir):
    """The incremental-correction loop, certified against ITSELF twice: a
    base order extract (seq 1) and a correction batch (seq 2: every 3rd
    key restated at 1.1× price, status R — the correction CSV is written
    with DUPLICATED shards) land as CSV and ride the flaky fetch tier
    (A11); the parse stage dedupes the duplicated correction records
    (K5), merge-upserts them over the base (K6); independently BOTH
    versions are bulk-uploaded to the flaky datastore under their seq
    (A12) whose keep-latest-by-seq state is the D12 semantics — and the
    query PROVES the two paths agree (n_drift = 0, an anti-join count)
    before aggregating per status."""
    from oeem_etl_spark.operators.relational import (
        dedupe_keep_latest_by,
        merge_upsert,
    )
    from oeem_etl_spark.sources import fetch as fx
    from oeem_etl_spark.sources import upload as up

    root = os.path.join(_TMP, f"a61_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(root, ignore_errors=True)
    remote = os.path.join(root, "remote")
    fstate = os.path.join(root, "fstate")
    ustate = os.path.join(root, "ustate")
    landing_b = os.path.join(root, "landing_base")
    landing_u = os.path.join(root, "landing_upd")
    dsroot = os.path.join(root, "ds")
    for d in (remote, fstate, ustate):
        os.makedirs(d, exist_ok=True)

    orders = (
        T(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 600)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    base = orders.select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
        F.lit(1).alias("seq"),
    )
    upd = orders.where(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        F.lit("R").alias("status"),
        # +10% in exact integer cents, half-up — see the oracle note
        F.expr(
            "((CAST(ROUND(o_totalprice * 100) AS BIGINT) * 11 + 5) div 10)"
            " / 100.0"
        ).alias("price"),
        F.lit(2).alias("seq"),
    )
    rb = os.path.join(remote, "base")
    ru = os.path.join(remote, "upd")
    base.coalesce(1).write.mode("overwrite").option("header", True).csv(rb)
    # the correction feed arrives twice (duplicated shards) — K5's job
    upd.unionByName(upd).coalesce(2).write.mode("overwrite").option(
        "header", True
    ).csv(ru)

    def land(remote_dir: str, landing: str):
        # task ids must be flat names (they key the fetcher's attempt
        # ledger and the landing file), so each feed gets its own remote
        shards = sorted(
            f
            for f in os.listdir(remote_dir)
            if f.endswith(".csv") and not f.startswith(("_", "."))
        )
        tasks = local_frame(
            spark,
            [(s, s) for s in shards], "task_id string, uri string"
        )
        ff = functools.partial(
            fx.local_flaky_fetcher,
            remote=remote_dir,
            fail_times=1,
            state_dir=fstate,
        )
        fx.check_fetched(fx.fetch_to_landing(tasks, ff, landing))
        return spark.read.option("header", True).schema(
            "o_orderkey long, status string, price string, seq int"
        ).csv(landing).withColumn("price", F.col("price").cast("double"))

    base_p = land(rb, landing_b)
    upd_p = dedupe_keep_latest_by(
        land(ru, landing_u), ["o_orderkey"], ["seq", "price"]
    )
    merged = merge_upsert(base_p, upd_p, ["o_orderkey"], broadcast_delta=True)

    # the datastore path: both versions uploaded, keep-latest by seq (D12)
    uf = functools.partial(
        up.local_flaky_datastore, root=dsroot, fail_times=1, state_dir=ustate
    )
    up.bulk_upload(base_p, uf, epoch_id=1, batch_size=200, max_attempts=4)
    up.bulk_upload(upd_p, uf, epoch_id=2, batch_size=200, max_attempts=4)
    state = up.FilesystemDatastore(dsroot).state("o_orderkey", "seq")
    ds = local_frame(
        spark,
        [
            (int(v["o_orderkey"]), str(v["status"]), float(v["price"]))
            for v in state.values()
        ],
        "o_orderkey long, status string, price double",
    )
    drift = (
        merged.select("o_orderkey", "status", "price")
        .exceptAll(ds)
        .count()
    ) + (
        ds.exceptAll(merged.select("o_orderkey", "status", "price")).count()
    )
    return (
        merged.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("price") * 1_000_000).cast("long")).alias(
                "total_micros"
            ),
        )
        .withColumn("n_drift", F.lit(int(drift)).cast("long"))
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# f30: C5 cross join + F2 limit/offset + H13 try_divide + A5
# ---------------------------------------------------------------------------


@query(
    "f30_order_calendar_page",
    sql="""
    WITH y AS (SELECT unnest(range(1995, 2002)) AS yr),
    m AS (SELECT unnest(range(1, 13)) AS mon),
    agg AS (
      SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mon,
             COUNT(*) AS n,
             SUM(CAST(ROUND(o_totalprice * 1000000) AS BIGINT)) AS micros
      FROM orders GROUP BY yr, mon
    )
    SELECT CAST(y.yr AS INTEGER) AS yr, CAST(m.mon AS INTEGER) AS mon,
           CAST(COALESCE(agg.n, 0) AS BIGINT) AS n_orders,
           ROUND(COALESCE(agg.micros, 0)
                 / NULLIF(CAST(COALESCE(agg.n, 0) AS DOUBLE), 0)
                 / 1000000.0, 6) AS avg_order
    FROM y CROSS JOIN m
    LEFT JOIN agg ON agg.yr = y.yr AND agg.mon = m.mon
    ORDER BY yr, mon LIMIT 12 OFFSET 24
    """,
    tier="T1",
    survey="C5,F2,H13,A5",
)
def f30_order_calendar_page(spark, sf_dir):
    """Dense order calendar, paged: a years×months skeleton built by
    CROSS-joining two in-memory ranges (C5, A5) left-joins the monthly
    order rollup, so empty months appear as zero rows; the per-order
    average is a try_divide — dividing 0 micros by 0 orders yields NULL
    instead of raising under ANSI (H13's try_* family exercised on a
    GENUINE divide-by-zero, not just a NULL passthrough); page 3 of the
    calendar is LIMIT 12 OFFSET 24 under a total order (F2)."""
    years = spark.range(1995, 2002).select(F.col("id").cast("int").alias("yr"))
    months = spark.range(1, 13).select(F.col("id").cast("int").alias("mon"))
    agg = (
        T(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mon"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 1_000_000).cast("long")).alias(
                "micros"
            ),
        )
    )
    cal = years.crossJoin(months).join(agg, ["yr", "mon"], "left")
    return (
        cal.select(
            "yr",
            "mon",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_orders"),
            F.round(
                F.try_divide(
                    F.coalesce("micros", F.lit(0)),
                    F.coalesce("n", F.lit(0)).cast("double"),
                )
                / 1e6,
                6,
            ).alias("avg_order"),
        )
        .orderBy("yr", "mon")
        .offset(24)
        .limit(12)
    )


# ---------------------------------------------------------------------------
# i70: A9 stream source + I4 watermark + I3 session windows + K11 + A10 sink
# ---------------------------------------------------------------------------


@query(
    "i70_stream_session_close",
    sql=f"""
    WITH e AS (
      SELECT user_id, {_CAST_TS} AS ts, value
      FROM events WHERE user_id <= 200
    ), marked AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL '30 minutes'
                    OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS brk
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
      SELECT user_id, ts, value,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    ), sess AS (
      SELECT user_id, MIN(ts) AS session_start,
             MAX(ts) + INTERVAL '30 minutes' AS session_end,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             {sql_dsum('value', 'sum_value')}
      FROM numbered GROUP BY user_id, sid
    )
    SELECT * FROM sess
    WHERE session_end <= (SELECT MAX(ts) - INTERVAL '10 minutes' FROM e)
    ORDER BY user_id, session_start
    """,
    tier="T2",
    survey="I3,I4,K11,A9,A10",
)
def i70_stream_session_close(spark, sf_dir):
    """Streaming sessionization with the WATERMARK CUT (i3 walks the
    complete-mode face): file-source events (A9) watermarked 10 minutes
    (I4) roll into 30-minute-gap session windows per user (I3/K11) in
    APPEND mode — only sessions whose end (last event + gap) has passed
    the watermark emit — draining through a foreachBatch parquet sink
    read back for verification (A10). The oracle replays gaps-and-islands
    sessionization with the closed-session mirror of the watermark cut."""
    from oeem_etl_spark.streaming import harness, ops
    from oeem_etl_spark.streaming.source import events_stream

    sdf = ops.with_watermark(
        events_stream(spark, sf_dir).where(F.col("user_id") <= 200),
        "10 minutes",
    )
    out = ops.session_agg(
        sdf,
        "30 minutes",
        ["user_id"],
        [F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value")],
    ).select("user_id", "session_start", "session_end", "n_events", "sum_value")
    path = os.path.join(_TMP, f"i70_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    harness.foreach_batch_to_parquet(out, path)
    return spark.read.parquet(path).orderBy("user_id", "session_start")


# ---------------------------------------------------------------------------
# i72: I5 streaming dedup feeding I6 per-key state, update-mode drain (I8)
# ---------------------------------------------------------------------------


@query(
    "i72_stream_dedup_state",
    sql="""
    WITH d AS (
      SELECT DISTINCT user_id, event_type, value
      FROM events WHERE user_id <= 120
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) / 1000000.0, 6)
             AS total_value
    FROM d GROUP BY user_id ORDER BY user_id
    """,
    tier="T2",
    survey="I5,I6,I8",
)
def i72_stream_dedup_state(spark, sf_dir):
    """Streaming dedup CHAINED INTO arbitrary per-key state: distinct
    (user, type, value) readings dedup as they arrive (I5), then
    running_totals_state keeps (count, exact micros total) per user (I6)
    emitting in update mode (I8); the drain rides the batch-ordinal
    capture sink, so the final emission per key — the last batch's row —
    must equal the batch aggregate over distinct readings exactly."""
    from oeem_etl_spark.streaming import harness, ops
    from oeem_etl_spark.streaming.source import events_stream

    sdf = events_stream(spark, sf_dir).where(F.col("user_id") <= 120)
    deduped = ops.dedup_keys(sdf, ["user_id", "event_type", "value"])
    updates = ops.running_totals_state(deduped)
    path = os.path.join(_TMP, f"i72_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    harness.foreach_batch_capture(updates, path)
    drained = spark.read.parquet(path)
    w = Window.partitionBy("user_id").orderBy(F.col("_batch_id").desc())
    return (
        drained.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "n_events", F.round("total_value", 6).alias("total_value"))
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# i73: I5 dedup + I7 stream-static enrich + I1 tumbling + I4, append mode
# ---------------------------------------------------------------------------

_I73_TIERS = [
    ("view", "low"),
    ("click", "mid"),
    ("purchase", "high"),
    ("signup", "mid"),
    ("error", "low"),
]

_I73_TIERS_SQL = ", ".join(f"('{e}', '{t}')" for e, t in _I73_TIERS)


@query(
    "i73_dedup_tier_daily",
    sql=f"""
    WITH d AS (
      SELECT DISTINCT user_id, event_type,
             CAST(date_trunc('day', {_CAST_TS}) AS TIMESTAMP) AS day
      FROM events
    ),
    tiers(event_type, tier) AS (VALUES {_I73_TIERS_SQL}),
    j AS (SELECT d.day, t.tier FROM d JOIN tiers t USING (event_type))
    SELECT day AS window_start, tier, CAST(COUNT(*) AS BIGINT) AS active_keys
    FROM j GROUP BY day, tier
    HAVING day + INTERVAL '1 day' <=
           (SELECT CAST(MAX(date_trunc('day', {_CAST_TS})) AS TIMESTAMP)
                   - INTERVAL '10 minutes'
            FROM events)
    ORDER BY window_start, tier
    """,
    tier="T2",
    survey="I5,I7,I1,A5",
)
def i73_dedup_tier_daily(spark, sf_dir):
    """Streaming dedup feeding a STREAM-STATIC enrichment and a tumbling
    daily rollup in APPEND mode: (user, type, day) triples dedup on
    arrival (I5 — day-bucketed activity), a broadcast in-memory tier dim
    maps event types to tiers (I7/A5), and watermarked 1-day tumbling
    windows count deduped active keys per tier (I1) — only
    watermark-closed days emit. Oracle: DISTINCT triples → tier join →
    day rollup with the closed-window HAVING mirror."""
    from oeem_etl_spark.streaming import harness, ops
    from oeem_etl_spark.streaming.source import events_stream

    sdf = events_stream(spark, sf_dir).select(
        "user_id", "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    )
    deduped = ops.dedup_keys(sdf, ["user_id", "event_type", "day"])
    tiers = local_frame(spark, _I73_TIERS, "event_type string, tier string")
    enriched = ops.enrich(
        ops.with_watermark(deduped, "10 minutes", ts_col="day"), tiers, "event_type"
    )
    out = ops.tumbling_agg(
        enriched,
        "1 day",
        ["tier"],
        [F.count(F.lit(1)).alias("active_keys")],
        ts_col="day",
    )
    drained = harness.run_available_now(out, "append")
    return drained.select("window_start", "tier", "active_keys").orderBy(
        "window_start", "tier"
    )


# ---------------------------------------------------------------------------
# j60: J1 scalar UDF + J7 SQL registration + D13 pivot + D14 unpivot + G2
# ---------------------------------------------------------------------------


@query(
    "j60_quarter_pivot_roundtrip",
    sql="""
    SELECT o_orderpriority,
           'Q' || CAST(((month(o_orderdate) - 1) // 3) + 1 AS VARCHAR)
             AS quarter,
           CAST(SUM(CAST(ROUND(o_totalprice * 1000000) AS BIGINT)) AS BIGINT)
             AS total_micros
    FROM orders
    GROUP BY o_orderpriority, quarter
    ORDER BY o_orderpriority, quarter
    """,
    tier="T2",
    survey="J1,J7,D13,D14,G2",
)
def j60_quarter_pivot_roundtrip(spark, sf_dir):
    """Fiscal-quarter rollup through a PIVOT/UNPIVOT round trip driven by
    a SQL-REGISTERED scalar Python UDF: fq(month) -> 'Qn' registers via
    spark.udf.register and is invoked from SQL text (J1+J7); the
    (priority, quarter) micros rollup pivots quarters to columns (D13),
    unpivots back (D14), and UNION DISTINCT against the pre-pivot frame
    (G2) proves the round trip lossless — the union collapses to the
    original row set, which is what the oracle certifies."""
    spark.udf.register("fq", lambda m: f"Q{(m - 1) // 3 + 1}")
    T(spark, sf_dir, "orders").createOrReplaceTempView("j60_orders")
    grouped = spark.sql(
        """
        SELECT o_orderpriority, fq(month(o_orderdate)) AS quarter,
               SUM(CAST(ROUND(o_totalprice * 1000000) AS BIGINT)) AS total_micros
        FROM j60_orders GROUP BY o_orderpriority, quarter
        """
    )
    quarters = ["Q1", "Q2", "Q3", "Q4"]
    pivoted = (
        grouped.groupBy("o_orderpriority")
        .pivot("quarter", quarters)
        .sum("total_micros")
    )
    unpivoted = pivoted.unpivot(
        ["o_orderpriority"], quarters, "quarter", "total_micros"
    ).where(F.col("total_micros").isNotNull())
    return (
        unpivoted.union(grouped)
        .distinct()
        .orderBy("o_orderpriority", "quarter")
    )


# ---------------------------------------------------------------------------
# k130: K2 parse + K8 normalize + C6 range join into rate bands
# ---------------------------------------------------------------------------

_K130_FACTORS = [
    ("view", 1.0),
    ("click", 3.6),
    ("purchase", 3600.0),
    ("signup", 3.6),
    ("error", 0.5),
]

_K130_FACTOR_CASE = (
    "CASE event_type "
    + " ".join(f"WHEN '{e}' THEN {f}" for e, f in _K130_FACTORS)
    + " END"
)

_K130_BANDS = [(1, 0.0, 50.0), (2, 50.0, 200.0), (3, 200.0, 1e9)]
_K130_BANDS_SQL = ", ".join(f"({b}, {lo}, {hi})" for b, lo, hi in _K130_BANDS)


@query(
    "k130_joule_rate_bands",
    sql=f"""
    WITH e AS (
      SELECT event_id,
             date_trunc('second', {_CAST_TS}) AS parsed_ts,
             value * ({_K130_FACTOR_CASE}) AS joules
      FROM events
    ),
    bands(band_id, lo, hi) AS (VALUES {_K130_BANDS_SQL})
    SELECT b.band_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum('e.joules', 'joules_total')},
           MAX(e.parsed_ts) AS last_second
    FROM e JOIN bands b ON e.joules >= b.lo AND e.joules < b.hi
    GROUP BY b.band_id ORDER BY b.band_id
    """,
    tier="T2",
    survey="K2,K8,C6",
)
def k130_joule_rate_bands(spark, sf_dir):
    """The meter-rate pipeline: event times round-trip through a COMPACT
    string form (yyyyMMdd'T'HHmmss, parsed back with an explicit format —
    K2, second-truncated by construction), readings normalize to joules
    through a broadcast per-type factor dim (K8), and each normalized
    reading RANGE-joins into its tariff band (C6 — non-equi broadcast
    join on value ranges). Per band: count, exact joule micros, latest
    parsed reading time."""
    ev = T(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.date_format("ts", "yyyyMMdd'T'HHmmss").alias("ts_s"),
    )
    factors = local_frame(
        spark,
        _K130_FACTORS, "event_type string, to_joule double"
    )
    bands = local_frame(
        spark,
        _K130_BANDS, "band_id int, lo double, hi double"
    )
    e = (
        ev.withColumn(
            "parsed_ts", F.to_timestamp("ts_s", "yyyyMMdd'T'HHmmss")
        )
        .join(F.broadcast(factors), "event_type")
        .withColumn("joules", F.col("value") * F.col("to_joule"))
    )
    return (
        e.join(
            F.broadcast(bands),
            (F.col("joules") >= F.col("lo")) & (F.col("joules") < F.col("hi")),
        )
        .groupBy("band_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("joules", "joules_total"),
            F.max("parsed_ts").alias("last_second"),
        )
        .orderBy("band_id")
    )


# ---------------------------------------------------------------------------
# l130: L9 embed + L4 knn classify + L6 tf-idf + J2 pandas UDF
# ---------------------------------------------------------------------------

_L130_FEATS_SQL = """
      SELECT doc_id, lang,
             list_transform(generate_series(1, 16), i ->
               CAST(CAST(CAST(CAST(concat('0x', substr(md5(text), 2*i - 1, 2))
                    AS INT) AS DOUBLE) / 255.0 AS FLOAT) AS DOUBLE)) AS f
      FROM documents
"""


@query(
    "l130_embed_knn_tfidf",
    sql=f"""
    WITH feats AS ({_L130_FEATS_SQL}),
    q AS (SELECT doc_id AS q_id, f AS qf FROM feats WHERE doc_id <= 60),
    c AS (SELECT doc_id AS vec_id, lang AS label, f
          FROM feats WHERE doc_id > 60),
    scored AS (
      SELECT q.q_id, c.vec_id, c.label,
             ROUND(list_cosine_similarity(c.f, q.qf), 6) AS score
      FROM c CROSS JOIN q
    ),
    topk AS (
      SELECT q_id, label FROM (
        SELECT q_id, vec_id, label,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY score DESC, vec_id) AS rnk
        FROM scored
      ) WHERE rnk <= 10
    ),
    votes AS (
      SELECT q_id, label, COUNT(*) AS votes FROM topk GROUP BY q_id, label
    ),
    pred AS (
      SELECT q_id AS doc_id, label AS predicted, CAST(votes AS BIGINT) AS votes
      FROM votes
      QUALIFY row_number() OVER (PARTITION BY q_id
                                 ORDER BY votes DESC, label) = 1
    ),
    tf AS (
      SELECT doc_id, tok AS term, COUNT(*) AS tf FROM (
        SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents
      ) GROUP BY doc_id, tok
    ),
    dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored_t AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 6) AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
      WHERE tf.doc_id <= 60
    ),
    top_t AS (
      SELECT doc_id, term AS top_term, tfidf FROM scored_t
      QUALIFY row_number() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf DESC, term) = 1
    )
    SELECT p.doc_id, p.predicted, p.votes, t.top_term, t.tfidf
    FROM pred p JOIN top_t t USING (doc_id)
    ORDER BY doc_id
    """,
    tier="T3",
    survey="L9,L4,L6,J2",
)
def l130_embed_knn_tfidf(spark, sf_dir):
    """Self-supervised language ID: every document embeds through the
    Arrow-batched hash-projection stub (L9/J2 — the same plumbing a real
    encoder rides), docs >60 with their lang labels form the reference
    corpus and docs <=60 kNN-classify against it (L4, k=10, cosine,
    rounded-score + vec-id total order); each classified doc is decorated
    with its top tf-idf term over the FULL corpus df (L6). Oracle replays
    md5-byte features, brute-force cosine top-k, majority vote and the
    tf-idf argmax end to end."""
    from oeem_etl_spark.operators import multimodal, similarity
    from oeem_etl_spark.operators.text import tf_idf

    docs = T(spark, sf_dir, "documents")
    feats = multimodal.extract_features(
        multimodal.to_multimodal(docs, "doc_id", "text", "text/plain")
    ).select(F.col("asset_id").alias("doc_id"), F.col("features"))
    corpus = (
        feats.join(docs.select("doc_id", "lang"), "doc_id")
        .where(F.col("doc_id") > 60)
        .select(
            F.col("doc_id").alias("vec_id"),
            F.col("features").alias("embedding"),
            F.col("lang").alias("label"),
        )
    )
    queries = feats.where(F.col("doc_id") <= 60).select(
        F.col("doc_id").alias("q_id"), F.col("features").alias("embedding")
    )
    pred = similarity.knn_classify(corpus, queries, k=10).select(
        F.col("q_id").alias("doc_id"), "predicted", F.col("votes").cast("long")
    )
    top_t = tf_idf(docs, "doc_id", "text").where(F.col("doc_id") <= 60)
    wt = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    top_t = (
        top_t.withColumn("rn", F.row_number().over(wt))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("term").alias("top_term"), "tfidf")
    )
    return pred.join(top_t, "doc_id").orderBy("doc_id")


# ---------------------------------------------------------------------------
# l131: L12 inverted search + L11 weighted pick + H1/H2 string features
# ---------------------------------------------------------------------------

_L131_TERMS = ["stream", "merge"]


@query(
    "l131_search_weighted_pick",
    sql=f"""
    WITH p AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    hits AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
      FROM p WHERE term IN ({", ".join(f"'{t}'" for t in _L131_TERMS)})
      GROUP BY doc_id HAVING COUNT(DISTINCT term) = {len(_L131_TERMS)}
    ),
    scored AS (
      SELECT d.lang, h.doc_id, h.n_occurrences, d.text, d.source,
             ROW_NUMBER() OVER (
               PARTITION BY d.lang
               ORDER BY pow(
                 CAST(CAST(concat('0x', substring(md5(concat(
                   CAST(h.doc_id AS VARCHAR), ':23')), 1, 8)) AS UBIGINT)
                   AS DOUBLE) / 4294967296.0,
                 1.0 / CAST(h.n_occurrences AS DOUBLE)) DESC,
               h.doc_id ASC
             ) AS rn
      FROM hits h JOIN documents d USING (doc_id)
    )
    SELECT lang, doc_id, n_occurrences,
           regexp_extract(text, '[a-z]{{8,}}', 0) AS long_tok,
           upper(lang || '-' || right(source, 1)) AS tag
    FROM scored WHERE rn <= 2
    ORDER BY lang, doc_id
    """,
    tier="T3",
    survey="L12,L11,H1,H2",
)
def l131_search_weighted_pick(spark, sf_dir):
    """Conjunctive retrieval feeding a DETERMINISTIC weighted sample: docs
    containing ALL of {{stream, merge}} (L12 — pushed-down IN-list, one
    hash agg) are sampled 2-per-language WITHOUT replacement, weighted by
    their matched-posting count (L11, Efraimidis-Spirakis over the md5
    uniform — exactly reproducible in SQL, unlike rand()); each pick is
    decorated with its first >=8-letter token (H2 regexp_extract) and an
    upper/concat/right tag (H1)."""
    from oeem_etl_spark.operators import search
    from oeem_etl_spark.operators.splits import (
        weighted_sample_without_replacement,
    )

    docs = T(spark, sf_dir, "documents")
    postings = search.build_postings(docs)
    hits = search.conjunctive_search(postings, _L131_TERMS)
    scored = hits.join(docs.select("doc_id", "lang", "text", "source"), "doc_id")
    picked = weighted_sample_without_replacement(
        scored, key="doc_id", weight="n_occurrences", k=2,
        group_by=["lang"], seed=23,
    )
    return picked.select(
        "lang",
        "doc_id",
        "n_occurrences",
        F.regexp_extract("text", "[a-z]{8,}", 0).alias("long_tok"),
        F.upper(
            F.concat(F.col("lang"), F.lit("-"), F.expr("right(source, 1)"))
        ).alias("tag"),
    ).orderBy("lang", "doc_id")


# ---------------------------------------------------------------------------
# m80: L10 degree centrality + J5 vectorized UDAF + D11 distinct
# ---------------------------------------------------------------------------


@query(
    "m80_degree_udaf_profile",
    sql=f"""
    SELECT user_id,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS degree,
           CAST(COUNT(DISTINCT date_trunc('day', {_CAST_TS})) AS BIGINT)
             AS active_days,
           CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT)
             AS value_micros
    FROM events WHERE user_id <= 150
    GROUP BY user_id ORDER BY user_id
    """,
    tier="T2",
    survey="L10,J5,D11",
)
def m80_degree_udaf_profile(spark, sf_dir):
    """Per-user activity profile on the user-eventtype bipartite graph:
    DEGREE centrality = distinct event types per user (L10 over edges
    made DISTINCT first — D11), distinct active days, and the exact
    integer-micros value total computed by a VECTORIZED grouped-agg
    pandas UDAF (J5, functions/udfs.micros_total — the dsum discipline
    inside an Arrow batch). One shuffle on user_id; the distinct edge
    build is map-side combinable."""
    from oeem_etl_spark.functions import udfs

    ev = T(spark, sf_dir, "events").where(F.col("user_id") <= 150)
    edges = ev.select("user_id", "event_type").distinct()
    degree = edges.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    days = (
        ev.select("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .distinct()
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("active_days"))
    )
    micros = ev.groupBy("user_id").agg(
        udfs.micros_total(F.col("value")).alias("value_micros")
    )
    return (
        degree.join(days, "user_id").join(micros, "user_id").orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# g30: L11 weighted pick + G3 intersect + H13 try_divide
# ---------------------------------------------------------------------------


@query(
    "g30_sampled_catalog_audit",
    sql="""
    WITH s AS (
      SELECT p_partkey FROM (
        SELECT p_partkey,
               ROW_NUMBER() OVER (
                 PARTITION BY p_brand
                 ORDER BY pow(
                   CAST(CAST(concat('0x', substring(md5(concat(
                     CAST(p_partkey AS VARCHAR), ':7')), 1, 8)) AS UBIGINT)
                     AS DOUBLE) / 4294967296.0,
                   1.0 / p_retailprice) DESC,
                 p_partkey ASC
               ) AS rn
        FROM part WHERE p_retailprice > 0
      ) WHERE rn <= 2
    ),
    i AS (
      SELECT p_partkey FROM s
      INTERSECT
      SELECT p_partkey FROM part WHERE p_size >= 30
    )
    SELECT p.p_partkey, p.p_brand, p.p_size,
           ROUND(p.p_retailprice
                 / NULLIF(CAST(p.p_size - 30 AS DOUBLE), 0), 6) AS margin
    FROM part p JOIN i USING (p_partkey)
    ORDER BY p.p_partkey
    """,
    tier="T2",
    survey="L11,G3,H13",
)
def g30_sampled_catalog_audit(spark, sf_dir):
    """Sampled-catalog audit: a price-weighted 2-per-brand deterministic
    sample (L11, Efraimidis-Spirakis) INTERSECTed with the large-size
    catalog slice (G3 — set semantics on part keys); survivors get a
    try_divide margin against (size - 30), a GENUINE divide-by-zero at
    size 30 that must yield NULL, not raise, under ANSI (H13)."""
    from oeem_etl_spark.operators.splits import (
        weighted_sample_without_replacement,
    )

    part = T(spark, sf_dir, "part")
    sampled = weighted_sample_without_replacement(
        part, key="p_partkey", weight="p_retailprice", k=2,
        group_by=["p_brand"], seed=7,
    ).select("p_partkey")
    large = part.where(F.col("p_size") >= 30).select("p_partkey")
    keys = sampled.intersect(large)
    return (
        part.join(keys, "p_partkey")
        .select(
            "p_partkey",
            "p_brand",
            "p_size",
            F.round(
                F.try_divide(
                    F.col("p_retailprice"),
                    (F.col("p_size") - 30).cast("double"),
                ),
                6,
            ).alias("margin"),
        )
        .orderBy("p_partkey")
    )


# ---------------------------------------------------------------------------
# a62: A3 json + A4 text + K1 standardize + B5 cast + B7 drop + H1 strings
# ---------------------------------------------------------------------------


@query(
    "a62_order_feed_standardize",
    sql="""
    WITH js AS (
      SELECT o_orderstatus AS grade, o_totalprice AS price
      FROM orders WHERE o_orderkey <= 400
    ),
    tx AS (
      SELECT upper(o_orderpriority) AS grade, o_totalprice AS price
      FROM orders WHERE o_orderkey > 400 AND o_orderkey <= 800
    ),
    u AS (SELECT * FROM js UNION ALL SELECT * FROM tx)
    SELECT grade, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(price * 1000000) AS BIGINT)) AS BIGINT)
             AS total_micros
    FROM u GROUP BY grade ORDER BY grade
    """,
    tier="T2",
    survey="A3,A4,K1,B5,B7,H1",
)
def a62_order_feed_standardize(spark, sf_dir):
    """Two raw order feeds standardized to ONE canonical schema (a56
    walks the documents/log pair): a JSON-lines extract of early orders
    is scanned back (A3), later orders arrive as pipe-delimited TEXT
    lines with sloppy casing/padding (A4) parsed by split + trim + upper
    (H1), both map through standardize_schema (K1 — rename/cast/reorder;
    the string->double price cast is B5, unmapped raw columns drop by
    construction, B7) and union into the per-grade micros rollup. Prices
    survive BOTH round trips bit-exactly (shortest-repr doubles)."""
    from oeem_etl_spark.operators.timeseries import standardize_schema

    root = os.path.join(_TMP, f"a62_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(root, ignore_errors=True)
    jdir = os.path.join(root, "json")
    tdir = os.path.join(root, "text")

    orders = T(spark, sf_dir, "orders")
    orders.where(F.col("o_orderkey") <= 400).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).coalesce(1).write.mode("overwrite").json(jdir)
    orders.where(
        (F.col("o_orderkey") > 400) & (F.col("o_orderkey") <= 800)
    ).select(
        F.concat(
            F.col("o_orderkey").cast("string"),
            F.lit("|  "),
            F.lower("o_orderpriority"),
            F.lit("  |"),
            F.col("o_totalprice").cast("string"),
        ).alias("value")
    ).coalesce(1).write.mode("overwrite").text(tdir)

    js_raw = spark.read.schema(
        "o_orderkey long, o_orderstatus string, o_totalprice double"
    ).json(jdir)
    js = standardize_schema(
        js_raw,
        {"grade": ("o_orderstatus", None), "price": ("o_totalprice", "double")},
    )
    tx_raw = spark.read.text(tdir).select(
        F.split("value", "\\|").alias("f")
    ).select(
        F.element_at("f", 1).alias("raw_key"),
        F.upper(F.trim(F.element_at("f", 2))).alias("raw_grade"),
        F.element_at("f", 3).alias("raw_price"),
    )
    tx = standardize_schema(
        tx_raw, {"grade": ("raw_grade", None), "price": ("raw_price", "double")}
    )
    return (
        js.unionByName(tx)
        .groupBy("grade")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("price") * 1_000_000).cast("long")).alias(
                "total_micros"
            ),
        )
        .orderBy("grade")
    )


# ---------------------------------------------------------------------------
# h80: H12 json + H11 struct + H10 map + H7 arrays over event props
# ---------------------------------------------------------------------------


@query(
    "h80_props_collection_profile",
    sql="""
    WITH ev AS (
      SELECT user_id, event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events WHERE user_id <= 200
    ),
    per_type AS (
      SELECT user_id, event_type, MAX(k) AS mk
      FROM ev GROUP BY user_id, event_type
    )
    SELECT p.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           MAX(CASE WHEN p.event_type = 'view' THEN p.mk END) AS view_k,
           (SELECT array_to_string(
              list_slice(list_sort(list(DISTINCT e.k), 'DESC'), 1, 3), ',')
            FROM ev e WHERE e.user_id = p.user_id) AS top_ks
    FROM per_type p
    GROUP BY p.user_id ORDER BY p.user_id
    """,
    tier="T2",
    survey="H12,H11,H10,H7",
)
def h80_props_collection_profile(spark, sf_dir):
    """Collection-function profile over the event props blob (h70 walks
    the try_/set-algebra face): the JSON payload's k extracts per event
    (H12), rides inside a STRUCT whose fields are accessed downstream
    (H11), per-user (type -> max k) entries build a real MAP queried with
    element_at for the 'view' key (H10), and the distinct-k array is
    sorted DESC and sliced to the top 3 (H7). Map/struct stay internal —
    the output is scalars + one sorted array, hashable on both engines."""
    ev = (
        T(spark, sf_dir, "events")
        .where(F.col("user_id") <= 200)
        .select(
            "user_id",
            F.struct(
                F.col("event_type").alias("etype"),
                F.get_json_object("props", "$.k").cast("long").alias("k"),
            ).alias("s"),
        )
        .select("user_id", F.col("s.etype").alias("event_type"), F.col("s.k").alias("k"))
    )
    per_type = ev.groupBy("user_id", "event_type").agg(F.max("k").alias("mk"))
    mapped = per_type.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "mk")))
        ).alias("m"),
    )
    # joined to a flat string: the driver's pandas canonicalizer cannot
    # sort/hash nested columns (tests/test_oracle.py enforces this)
    arrs = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.slice(F.sort_array(F.collect_set("k"), asc=False), 1, 3),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("top_ks")
    )
    return (
        mapped.join(arrs, "user_id")
        .select(
            "user_id",
            "n_types",
            F.element_at("m", "view").alias("view_k"),
            "top_ks",
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# e40: E4 first/nth over frame + D5 collect + D9 rollup + D11 distinct
# ---------------------------------------------------------------------------


@query(
    "e40_user_frame_rollup",
    sql=f"""
    WITH daily AS (
      SELECT user_id, CAST(date_trunc('day', {_CAST_TS}) AS TIMESTAMP) AS day,
             -- DuckDB SUM(BIGINT) widens to HUGEINT (pandas kind 'f'):
             -- cast back so the dtype matches Spark's long
             CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT)
               AS micros
      FROM events WHERE user_id <= 80
      GROUP BY user_id, day
    ),
    framed AS (
      SELECT user_id,
             first_value(day) OVER w AS first_day,
             nth_value(micros, 2) OVER w AS second_micros
      FROM daily
      WINDOW w AS (PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ),
    per_user AS (
      SELECT d.user_id, COUNT(*) AS n_days,
             MAX(f.first_day) AS first_day,
             MAX(f.second_micros) AS second_micros
      FROM daily d JOIN (SELECT DISTINCT * FROM framed) f USING (user_id)
      GROUP BY d.user_id
    ),
    types AS (
      SELECT user_id, list_sort(list(DISTINCT event_type)) AS etypes
      FROM events WHERE user_id <= 80 GROUP BY user_id
    )
    SELECT p.user_id, CAST(SUM(p.n_days) AS BIGINT) AS n_days,
           MIN(p.first_day) AS first_day,
           CAST(MAX(p.second_micros) AS BIGINT) AS second_micros,
           array_to_string(
             list_sort(list_distinct(flatten(list(t.etypes)))), ',')
             AS etypes
    FROM per_user p JOIN types t USING (user_id)
    GROUP BY ROLLUP(p.user_id)
    ORDER BY user_id NULLS FIRST
    """,
    tier="T2",
    survey="E4,D5,D9,D11",
)
def e40_user_frame_rollup(spark, sf_dir):
    """Frame functions under a ROLLUP: per user-day micros series, the
    FULL-partition frame yields first_value(day) and nth_value(micros, 2)
    (E4 — NULL for single-day users, surviving the rollup's MAX), the
    distinct event-type set collects sorted per user (D5 over D11's
    distinct build), and ROLLUP(user_id) (D9) adds the all-users total
    row whose type array is the flattened distinct union. Output:
    per-user rows + one NULL-keyed grand-total row."""
    ev = T(spark, sf_dir, "events").where(F.col("user_id") <= 80)
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(F.round(F.col("value") * 1_000_000).cast("long")).alias("micros"))
    wfull = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    per_user = (
        daily.select(
            "user_id",
            F.first("day").over(wfull).alias("first_day"),
            F.nth_value("micros", 2).over(wfull).alias("second_micros"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.max("first_day").alias("first_day"),
            F.max("second_micros").alias("second_micros"),
        )
    )
    types = (
        ev.select("user_id", "event_type")
        .distinct()
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("event_type")).alias("etypes"))
    )
    return (
        per_user.join(types, "user_id")
        .rollup("user_id")
        .agg(
            F.sum("n_days").alias("n_days"),
            F.min("first_day").alias("first_day"),
            F.max("second_micros").alias("second_micros"),
            # flat string — nested columns can't cross the driver's
            # pandas canonicalizer (tests/test_oracle.py enforces this)
            F.array_join(
                F.sort_array(
                    F.array_distinct(F.flatten(F.collect_list("etypes")))
                ),
                ",",
            ).alias("etypes"),
        )
        .orderBy(F.col("user_id").asc_nulls_first())
    )


# ---------------------------------------------------------------------------
# i74: I5 dedup + I2 sliding + I4 watermark, APPEND-mode drain
# ---------------------------------------------------------------------------


@query(
    "i74_sliding_closed_windows",
    sql=f"""
    WITH d AS (
      SELECT DISTINCT user_id,
             time_bucket(INTERVAL '3 hours', {_CAST_TS}) AS bk
      FROM events
    ),
    cand AS (
      SELECT unnest([bk, bk - INTERVAL '3 hours']) AS window_start, user_id
      FROM d
    )
    SELECT window_start, CAST(COUNT(*) AS BIGINT) AS active
    FROM cand GROUP BY window_start
    HAVING window_start + INTERVAL '6 hours' <=
           (SELECT MAX(bk) - INTERVAL '10 minutes' FROM d)
    ORDER BY window_start
    """,
    tier="T2",
    survey="I2,I5,I4",
)
def i74_sliding_closed_windows(spark, sf_dir):
    """Sliding windows in APPEND mode over a deduped stream (i63 walks
    the update-mode drain): (user, 3h-bucket) pairs dedup on arrival
    (I5), 6h/2-pane sliding windows count active user-buckets (I2), and
    the 10-minute watermark (I4) means ONLY closed windows emit — the
    drain needs no final-emission disambiguation at all, which is the
    production posture for sliding rollups. Oracle: distinct pairs →
    2-window expansion → closed-window HAVING."""
    from oeem_etl_spark.streaming import harness, ops
    from oeem_etl_spark.streaming.source import events_stream

    sdf = events_stream(spark, sf_dir).withColumn(
        "bk",
        F.expr("timestampadd(HOUR, -(hour(ts) % 3), date_trunc('hour', ts))"),
    )
    deduped = ops.dedup_keys(sdf, ["user_id", "bk"])
    out = ops.sliding_agg(
        ops.with_watermark(deduped, "10 minutes", ts_col="bk"),
        "6 hours",
        "3 hours",
        [],
        [F.count(F.lit(1)).alias("active")],
        ts_col="bk",
    )
    drained = harness.run_available_now(out, "append")
    return drained.select("window_start", "active").orderBy("window_start")


# ---------------------------------------------------------------------------
# k131: K7 grid as-of align + D7 exact-mode approx percentile + C6 bands
# ---------------------------------------------------------------------------

_K131_BANDS = [(1, 0.0, 33.0), (2, 33.0, 35.0), (3, 35.0, 1e9)]
_K131_BANDS_SQL = ", ".join(f"({b}, {lo}, {hi})" for b, lo, hi in _K131_BANDS)


@query(
    "k131_grid_quantile_bands",
    sql=f"""
    WITH grid AS (
      SELECT unnest(generate_series(TIMESTAMP '2023-12-31 00:00:00',
                                    TIMESTAMP '2024-02-01 00:00:00',
                                    INTERVAL '4 hours')) AS boundary
    ),
    al AS (
      SELECT e.value, g.boundary AS slot
      FROM events e ASOF JOIN grid g ON g.boundary <= {_CAST_TS}
      WHERE e.value IS NOT NULL
    ),
    sl AS (
      SELECT slot, quantile_disc(value, 0.5) AS p50 FROM al GROUP BY slot
    ),
    bands(band_id, lo, hi) AS (VALUES {_K131_BANDS_SQL})
    SELECT b.band_id, CAST(COUNT(*) AS BIGINT) AS n_slots,
           MIN(sl.p50) AS p50_min, MAX(sl.p50) AS p50_max
    FROM sl JOIN bands b ON sl.p50 >= b.lo AND sl.p50 < b.hi
    GROUP BY b.band_id ORDER BY b.band_id
    """,
    tier="T2",
    survey="K7,D7,C6",
)
def k131_grid_quantile_bands(spark, sf_dir):
    """Grid alignment + APPROX-percentile + tariff banding in one
    pipeline: every reading as-of-aligns to its 4-hour grid boundary (K7,
    keyless backward as-of against a generated boundary table — via the
    BROADCAST single-match interval join, not the constant-key window
    that funnels the fact through one partition; r9 probe finding), each
    slot's median comes from percentile_approx in EXACT MODE (D7:
    accuracy 1e6 >= any slot's row count makes the GK sketch store every
    value and return the exact discrete quantile — probed equal to
    DuckDB's quantile_disc), and slot medians RANGE-join into value bands
    (C6). At 100 TB the same plan holds: the grid broadcasts, the fact
    side never shuffles for the alignment, the percentile state is
    bounded by accuracy, the band join broadcasts."""
    from oeem_etl_spark.operators.relational import asof_align_broadcast

    ev = (
        T(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("ts", "value")
    )
    # 2023-12-31 .. 2024-02-01 inclusive at 4h steps: 32 days * 6
    # boundaries/day + 1 = 193, matching the oracle's generate_series
    # exactly (an 8*32+1=257 grid would extend ~10 days past
    # the oracle's and would silently diverge once events reach Feb).
    n_slots = 6 * 32 + 1
    grid = spark.range(n_slots).select(
        (
            F.lit("2023-12-31 00:00:00").cast("timestamp")
            + F.make_interval(hours=(F.col("id") * 4).cast("int"))
        ).alias("boundary"),
    )
    al = asof_align_broadcast(
        ev, grid, left_ts="ts", right_ts="boundary", value_cols=["boundary"],
        how="inner",  # oracle is a bare (inner) ASOF JOIN: events before
        # the first boundary must DROP, not survive with a NULL slot
    ).select(F.col("boundary").alias("slot"), "value")
    sl = al.groupBy("slot").agg(
        F.expr("percentile_approx(value, 0.5, 1000000)").alias("p50")
    )
    bands = local_frame(
        spark,
        _K131_BANDS, "band_id int, lo double, hi double"
    )
    return (
        sl.join(
            F.broadcast(bands),
            (F.col("p50") >= F.col("lo")) & (F.col("p50") < F.col("hi")),
        )
        .groupBy("band_id")
        .agg(
            F.count(F.lit(1)).alias("n_slots"),
            F.min("p50").alias("p50_min"),
            F.max("p50").alias("p50_max"),
        )
        .orderBy("band_id")
    )


# ---------------------------------------------------------------------------
# j70: J6 UDTF sessionizer + K11
# ---------------------------------------------------------------------------


@query(
    "j70_udtf_gap_sessions",
    sql=f"""
    WITH e AS (
      SELECT user_id, epoch_us({_CAST_TS}) AS tus
      FROM events WHERE user_id <= 60
    ),
    m AS (
      SELECT user_id, tus,
             CASE WHEN tus - lag(tus) OVER w > 7200000000
                    OR lag(tus) OVER w IS NULL THEN 1 ELSE 0 END AS brk
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)
    ),
    i AS (
      SELECT user_id, tus,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY tus
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    ),
    s AS (
      SELECT user_id, MIN(tus) AS s_start, MAX(tus) AS s_end,
             COUNT(*) AS n
      FROM i GROUP BY user_id, sid
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(MAX(s_end - s_start) AS BIGINT) AS max_span_us
    FROM s GROUP BY user_id ORDER BY user_id
    """,
    tier="T3",
    survey="J6,K11",
)
def j70_udtf_gap_sessions(spark, sf_dir):
    """Sessionization through the USER-EXTENSION surface (K11 via J6): a
    Python UDTF walks each user's sorted event-time array and EMITS one
    row per 2-hour-gap session — the raw-payload→records parser shape,
    reached via SQL LATERAL join like a real user extension would be.
    Same gaps-and-islands truth as k73/k101, produced by the opposite
    mechanism (imperative generator vs relational windows); the oracle is
    the relational form, so the two provably agree."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="s_start bigint, s_end bigint, n int")
    class GapSessions:
        def eval(self, ts_sorted):
            if not ts_sorted:
                return
            gap = 7_200_000_000  # 2h in µs
            start = prev = ts_sorted[0]
            n = 1
            for t in ts_sorted[1:]:
                if t - prev > gap:
                    yield int(start), int(prev), n
                    start, n = t, 0
                prev = t
                n += 1
            yield int(start), int(prev), n

    spark.udtf.register("oeem_gap_sessions", GapSessions)
    (
        T(spark, sf_dir, "events")
        .where(F.col("user_id") <= 60)
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list(F.unix_micros("ts"))).alias("ts_arr"))
        .createOrReplaceTempView("j70_users")
    )
    sess = spark.sql(
        """
        SELECT u.user_id, s.s_start, s.s_end, s.n
        FROM j70_users u, LATERAL oeem_gap_sessions(u.ts_arr) s
        """
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n").cast("long").alias("n_events"),
            F.max(F.col("s_end") - F.col("s_start")).cast("long").alias(
                "max_span_us"
            ),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# m81: L10 co-occurrence degree + J5 UDAF + D11 distinct + L11 weighted pick
# ---------------------------------------------------------------------------


@query(
    "m81_cooccur_degree_pick",
    sql="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    co AS (
      SELECT a.event_type, CAST(COUNT(DISTINCT b.event_type) AS BIGINT)
               AS co_degree
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type <> b.event_type
      GROUP BY a.event_type
    ),
    micros AS (
      SELECT event_type,
             CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT)
               AS value_micros
      FROM events GROUP BY event_type
    ),
    per_user AS (
      SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY event_type, user_id
    ),
    picked AS (
      SELECT event_type, user_id, n_events FROM (
        SELECT event_type, user_id, n_events,
               ROW_NUMBER() OVER (
                 PARTITION BY event_type
                 ORDER BY pow(
                   CAST(CAST(concat('0x', substring(md5(concat(
                     CAST(user_id AS VARCHAR), ':31')), 1, 8)) AS UBIGINT)
                     AS DOUBLE) / 4294967296.0,
                   1.0 / CAST(n_events AS DOUBLE)) DESC,
                 user_id ASC
               ) AS rn
        FROM per_user
      ) WHERE rn <= 2
    )
    SELECT p.event_type, p.user_id, p.n_events, c.co_degree, m.value_micros
    FROM picked p JOIN co c USING (event_type) JOIN micros m USING (event_type)
    ORDER BY event_type, user_id
    """,
    tier="T2",
    survey="L10,J5,D11,L11",
)
def m81_cooccur_degree_pick(spark, sf_dir):
    """Type-graph profile + activity-weighted audit sample: the
    DISTINCT (user, type) edge set (D11) induces the type-type
    co-occurrence graph (types sharing a user) whose per-type DEGREE is
    the centrality face (L10); per-type exact micros ride the vectorized
    grouped-agg UDAF (J5); and 2 audit users per type are picked by the
    deterministic Efraimidis-Spirakis sample weighted by their event
    count (L11)."""
    from oeem_etl_spark.functions import udfs
    from oeem_etl_spark.operators.splits import (
        weighted_sample_without_replacement,
    )

    ev = T(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    a = ut.alias("a")
    b = ut.select(
        F.col("user_id").alias("user_id_b"), F.col("event_type").alias("etype_b")
    )
    co = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("user_id_b"))
            & (F.col("a.event_type") != F.col("etype_b")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(F.count_distinct("etype_b").alias("co_degree"))
    )
    micros = ev.groupBy("event_type").agg(
        udfs.micros_total(F.col("value")).alias("value_micros")
    )
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    picked = weighted_sample_without_replacement(
        per_user, key="user_id", weight="n_events", k=2,
        group_by=["event_type"], seed=31,
    )
    return (
        picked.join(co, "event_type")
        .join(micros, "event_type")
        .select(
            "event_type", "user_id", "n_events", "co_degree", "value_micros"
        )
        .orderBy("event_type", "user_id")
    )


# ---------------------------------------------------------------------------
# h81: E4 frame nth + H1 strings + H13 try_divide + F2 page
# ---------------------------------------------------------------------------


@query(
    "h81_segment_frame_page",
    sql="""
    WITH c AS (
      SELECT c_custkey, c_mktsegment, c_acctbal, c_nationkey,
             upper(substring(c_name, 1, 3) ||
                   lpad(CAST(c_nationkey AS VARCHAR), 3, '0')) AS key_tag
      FROM customer WHERE c_custkey <= 500
    ),
    framed AS (
      SELECT c_custkey, c_mktsegment, key_tag,
             first_value(c_acctbal) OVER w AS seg_first_bal,
             nth_value(c_acctbal, 3) OVER w AS seg_third_bal,
             ROUND(c_acctbal / NULLIF(CAST(c_nationkey - 5 AS DOUBLE), 0), 6)
               AS bal_ratio
      FROM c
      WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_custkey
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING)
    )
    SELECT * FROM framed
    ORDER BY c_mktsegment, c_custkey
    LIMIT 40 OFFSET 10
    """,
    tier="T1",
    survey="E4,H1,H13,F2",
)
def h81_segment_frame_page(spark, sf_dir):
    """Segment ledger page: per-market-segment FULL frames expose the
    first and third account balances in custkey order (E4 first/nth over
    an explicit frame), each row carries an upper/substring/lpad key tag
    (H1) and a try_divide balance ratio whose divisor is GENUINELY zero
    for nation 5 (H13 -> NULL, never a raise); page 2 of the ledger is
    LIMIT 40 OFFSET 10 under a total order (F2)."""
    c = (
        T(spark, sf_dir, "customer")
        .where(F.col("c_custkey") <= 500)
        .select(
            "c_custkey",
            "c_mktsegment",
            "c_acctbal",
            "c_nationkey",
            F.upper(
                F.concat(
                    F.substring("c_name", 1, 3),
                    F.lpad(F.col("c_nationkey").cast("string"), 3, "0"),
                )
            ).alias("key_tag"),
        )
    )
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy("c_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        c.select(
            "c_custkey",
            "c_mktsegment",
            "key_tag",
            F.first("c_acctbal").over(w).alias("seg_first_bal"),
            F.nth_value("c_acctbal", 3).over(w).alias("seg_third_bal"),
            F.round(
                F.try_divide(
                    F.col("c_acctbal"),
                    (F.col("c_nationkey") - 5).cast("double"),
                ),
                6,
            ).alias("bal_ratio"),
        )
        .orderBy("c_mktsegment", "c_custkey")
        .offset(10)
        .limit(40)
    )
