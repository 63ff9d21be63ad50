"""Declared ETL-domain queries (SURVEY.md §2.K) — the reference's actual
job re-expressed: schema standardization, timestamp parsing, resampling,
gap-filling, interval alignment, unit normalization, quality audits.
Fixture mapping: ``events`` plays the meter-read stream.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from oeem_etl_spark.catalog import local_frame
from oeem_etl_spark.operators.quality import validate_quality
from oeem_etl_spark.operators.relational import asof_join
from oeem_etl_spark.operators.timeseries import (
    fill_gaps,
    resample_interval,
    sessionize,
    standardize_schema,
)
from oeem_etl_spark.plans.registry import query
from oeem_etl_spark.plans.util import T, davg, dsum, sql_davg, sql_dsum
from oeem_etl_spark.functions.fixedpoint import qlong


@query(
    "k1_standardize_schema",
    sql="""
    SELECT event_id AS record_id,
           CAST(user_id AS VARCHAR) AS meter_id,
           ts AS read_at,
           value AS kwh,
           event_type AS channel
    FROM events WHERE event_id <= 500
    """,
    tier="T2",
    survey="K1,B1,B5",
)
def k1_standardize_schema(spark, sf_dir):
    """Canonical-schema projection: rename + cast + reorder in one pass."""
    ev = T(spark, sf_dir, "events").where(F.col("event_id") <= 500)
    return standardize_schema(
        ev,
        {
            "record_id": ("event_id", None),
            "meter_id": ("user_id", "string"),
            "read_at": ("ts", None),
            "kwh": ("value", None),
            "channel": ("event_type", None),
        },
    )


@query(
    "k2_parse_timestamps",
    sql="""
    SELECT o_orderkey,
           strptime(
             CAST(year(o_orderdate) AS VARCHAR) || '-' ||
             lpad(CAST(month(o_orderdate) AS VARCHAR), 2, '0') || '-' ||
             lpad(CAST(day(o_orderdate) AS VARCHAR), 2, '0') || ' 12:30:00',
             '%Y-%m-%d %H:%M:%S') AS parsed_ts
    FROM orders WHERE o_orderkey <= 400
    """,
    tier="T2",
    survey="K2,B5,H4",
)
def k2_parse_timestamps(spark, sf_dir):
    """String → timestamp parsing (the parser job): build a string from
    date components (engine-agnostic), parse it back with an explicit
    format, UTC session timezone pinned on both sides."""
    o = T(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 400)
    s = F.concat(
        F.year("o_orderdate").cast("string"),
        F.lit("-"),
        F.lpad(F.month("o_orderdate").cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad(F.dayofmonth("o_orderdate").cast("string"), 2, "0"),
        F.lit(" 12:30:00"),
    )
    return o.select(
        "o_orderkey",
        F.to_timestamp(s, "yyyy-MM-dd HH:mm:ss").alias("parsed_ts"),
    )


@query(
    "k3_resample_interval",
    sql=f"""
    SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
           COUNT(*) AS n_reads,
           {sql_dsum('value', 'day_total')},
           max(value) AS day_max
    FROM events GROUP BY user_id, bucket
    """,
    tier="T2",
    survey="K3,D1,H4",
)
def k3_resample_interval(spark, sf_dir):
    """Irregular reads → per-key daily buckets (hour/day calendarization).

    Note: both sides emit bucket as TIMESTAMP — Spark DateType would
    materialize as pandas `object` (datetime.date) against DuckDB DATE's
    datetime64[us], flipping the driver's dtype-sensitive hash (the k11
    flap family).
    """
    ev = T(spark, sf_dir, "events")
    out = resample_interval(
        ev,
        keys=["user_id"],
        ts="ts",
        freq="day",
        aggs=[
            F.count(F.lit(1)).alias("n_reads"),
            dsum("value", "day_total"),
            F.max("value").alias("day_max"),
        ],
    )
    return out.withColumn("bucket", F.col("bucket").cast("timestamp_ntz")).select(
        "user_id", "bucket", "n_reads", "day_total", "day_max"
    )


@query(
    "k4_fill_gaps",
    sql=f"""
    WITH daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
             {sql_dsum('value', 'day_total')}
      FROM events GROUP BY user_id, bucket
    ), spans AS (
      SELECT user_id, min(bucket) AS min_b, max(bucket) AS max_b
      FROM daily GROUP BY user_id
    ), grid AS (
      SELECT user_id, unnest(generate_series(min_b, max_b, INTERVAL 1 DAY)) AS bucket
      FROM spans
    )
    SELECT g.user_id, CAST(g.bucket AS TIMESTAMP) AS day,
           last_value(d.day_total IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_total,
           CAST(d.day_total IS NULL AS BOOLEAN) AS was_gap
    FROM grid g LEFT JOIN daily d USING (user_id, bucket)
    """,
    tier="T2",
    survey="K4,E4,H9",
)
def k4_fill_gaps(spark, sf_dir):
    """Dense daily grid per user with forward-filled totals + gap flag."""
    ev = T(spark, sf_dir, "events")
    daily = resample_interval(
        ev, keys=["user_id"], ts="ts", freq="day", aggs=[dsum("value", "day_total")]
    )
    daily = daily.withColumn("was_gap", F.lit(False))
    filled = fill_gaps(
        daily, keys=["user_id"], bucket="bucket", value="day_total", freq="day"
    )
    return filled.select(
        "user_id",
        F.col("bucket").cast("timestamp_ntz").alias("day"),
        F.col("day_total").alias("filled_total"),
        F.coalesce(F.col("was_gap"), F.lit(True)).alias("was_gap"),
    )


@query(
    "k7_interval_align",
    sql="""
    SELECT e.event_id, p.label AS period_label
    FROM events e
    ASOF LEFT JOIN (VALUES ('baseline', TIMESTAMP '2024-01-01'),
                           ('blackout', TIMESTAMP '2024-01-10'),
                           ('reporting', TIMESTAMP '2024-01-20'))
         AS p(label, boundary)
      ON p.boundary <= e.ts
    """,
    tier="T2",
    survey="K7,C8",
)
def k7_interval_align(spark, sf_dir):
    """Map each record onto its project period (baseline/reporting split)
    via a keyless as-of against period boundaries — the BROADCAST
    single-match interval join (asof_align_broadcast): the dim-sized
    boundary table broadcasts and the fact side never shuffles (the r9
    probe showed the constant-key asof_join window funneling every fact
    row through one partition)."""
    from oeem_etl_spark.operators.relational import asof_align_broadcast

    ev = T(spark, sf_dir, "events").select("event_id", "ts")
    periods = local_frame(
        spark,
        [
            ("baseline", "2024-01-01"),
            ("blackout", "2024-01-10"),
            ("reporting", "2024-01-20"),
        ],
        "period_label STRING, boundary_s STRING",
    ).select(
        "period_label",
        F.col("boundary_s").cast("timestamp").alias("boundary"),
    )
    out = asof_align_broadcast(
        ev,
        periods,
        left_ts="ts",
        right_ts="boundary",
        value_cols=["period_label"],
    )
    return out.select("event_id", "period_label")


@query(
    "k8_normalize_units",
    sql=f"""
    SELECT e.event_type,
           {sql_dsum('e.value * u.to_kwh_factor', 'kwh_total')}
    FROM events e
    JOIN (VALUES ('view', 0.001), ('click', 1.0), ('purchase', 29.3001),
                 ('signup', 1.0), ('error', 0.0))
         AS u(event_type, to_kwh_factor)
      ON e.event_type = u.event_type
    GROUP BY e.event_type
    """,
    tier="T2",
    survey="K8,C9",
)
def k8_normalize_units(spark, sf_dir):
    """Unit normalization: broadcast-join the conversion lookup, multiply
    (Wh→kWh / therms→kWh semantics on the fixture's enum)."""
    ev = T(spark, sf_dir, "events")
    conv = local_frame(
        spark,
        [
            ("view", 0.001),
            ("click", 1.0),
            ("purchase", 29.3001),
            ("signup", 1.0),
            ("error", 0.0),
        ],
        "event_type STRING, to_kwh_factor DOUBLE",
    )
    return (
        ev.join(F.broadcast(conv), "event_type")
        .groupBy("event_type")
        .agg(dsum(F.col("value") * F.col("to_kwh_factor"), "kwh_total"))
    )


@query(
    "k9_validate_quality",
    sql="""
    SELECT source,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT doc_id) AS n_distinct_keys,
           CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS BIGINT) AS n_dup_keys,
           CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_text,
           CAST(SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_len_mismatch,
           CAST(SUM(CASE WHEN n_chars > 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_oversize
    FROM documents GROUP BY source
    """,
    tier="T2",
    survey="K9,D1,B4",
)
def k9_validate_quality(spark, sf_dir):
    """Per-source audit: null%, dup keys, invariant violations, row counts."""
    docs = T(spark, sf_dir, "documents")
    return validate_quality(
        docs,
        group_by=["source"],
        key="doc_id",
        checks={
            "n_null_text": F.col("text").isNull(),
            "n_len_mismatch": F.col("n_chars") != F.length("text"),
            "n_oversize": F.col("n_chars") > 10000,
        },
    )


@query(
    "k11_sessionize",
    sql="""
    SELECT user_id, session_id, COUNT(*) AS n_events,
           CAST(min(epoch_us(ts)) AS BIGINT) AS session_start_us
    FROM (
      SELECT user_id, ts,
             CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM (
        SELECT user_id, ts,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap_us
        FROM events
      )
    ) GROUP BY user_id, session_id
    """,
    tier="T2",
    survey="K-ext,I3,E2,E3",
)
def k11_sessionize(spark, sf_dir):
    """Batch sessionization (gaps-and-islands, 30-min gap) — the batch twin
    of streaming session_window (I3), oracle-checkable unlike the stream."""
    ev = T(spark, sf_dir, "events")
    sess = sessionize(ev, keys=["user_id"], ts="ts", gap_minutes=30)
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(F.unix_micros("ts")).alias("session_start_us"),
    )


# ---------------------------------------------------------------------------
# K-ext: history tracking (SCD2) and snapshot CDC
# ---------------------------------------------------------------------------


@query(
    "k12_scd2_history",
    sql="""
    WITH opened AS (
      SELECT user_id, event_type, ts AS valid_from,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS version
      FROM (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events WHERE user_id <= 20
      )
      WHERE prev IS NULL OR prev <> event_type
    )
    SELECT user_id, event_type, version, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from, version) AS valid_to,
           lead(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from, version) IS NULL
             AS is_current
    FROM opened
    """,
    tier="T2",
    survey="K6,E2,D12",
)
def k12_scd2_history(spark, sf_dir):
    """SCD2 dimension history from the event stream: each user's
    event_type timeline collapsed into versions with validity intervals
    (K-ext; the history-preserving sibling of the K6 upsert)."""
    from oeem_etl_spark.operators.history import scd2_from_events

    ev = T(spark, sf_dir, "events").where(F.col("user_id") <= 20)
    out = scd2_from_events(
        ev, "user_id", "ts", ["event_type"], tiebreak="event_id"
    )
    return out.select(
        "user_id", "event_type", "version", "valid_from", "valid_to", "is_current"
    )


@query(
    "k13_snapshot_cdc",
    sql="""
    WITH old AS (
      SELECT user_id, value FROM events WHERE ts < TIMESTAMP '2024-01-15'
      QUALIFY row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts DESC, event_id DESC) = 1
    ), new AS (
      SELECT user_id, value FROM events WHERE ts >= TIMESTAMP '2024-01-15'
      QUALIFY row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts DESC, event_id DESC) = 1
    )
    SELECT user_id, change, value FROM (
      SELECT COALESCE(n.user_id, o.user_id) AS user_id,
             CASE WHEN o.user_id IS NULL THEN 'insert'
                  WHEN n.user_id IS NULL THEN 'delete'
                  WHEN n.value IS DISTINCT FROM o.value THEN 'update' END AS change,
             CASE WHEN n.user_id IS NULL THEN o.value ELSE n.value END AS value
      FROM old o FULL JOIN new n ON o.user_id = n.user_id
    ) WHERE change IS NOT NULL
    """,
    tier="T2",
    survey="K6,C2,C4",
)
def k13_snapshot_cdc(spark, sf_dir):
    """Change-data-capture between two keyed snapshots (latest value per
    user before/after a cutoff): insert/delete/update labels, unchanged
    keys dropped before any downstream work."""
    from oeem_etl_spark.operators.history import diff_snapshots
    from oeem_etl_spark.operators.relational import dedupe_keep_latest_by

    ev = T(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15").cast("timestamp")
    old = dedupe_keep_latest_by(
        ev.where(F.col("ts") < cutoff), ["user_id"], ["ts", "event_id"]
    ).select("user_id", "value")
    new = dedupe_keep_latest_by(
        ev.where(F.col("ts") >= cutoff), ["user_id"], ["ts", "event_id"]
    ).select("user_id", "value")
    return diff_snapshots(old, new, "user_id", ["value"])


@query(
    "k14_profile_table",
    sql="""
    SELECT 'value' AS column, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           COUNT(DISTINCT value) AS n_distinct,
           CAST(MIN(value) AS VARCHAR) AS min_val,
           CAST(MAX(value) AS VARCHAR) AS max_val
    FROM events
    UNION ALL
    SELECT 'user_id', COUNT(*),
           CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT user_id),
           CAST(MIN(user_id) AS VARCHAR), CAST(MAX(user_id) AS VARCHAR)
    FROM events
    UNION ALL
    SELECT 'event_type', COUNT(*),
           CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT event_type),
           MIN(event_type), MAX(event_type)
    FROM events
    """,
    tier="T2",
    survey="K9,D1,D2",
)
def k14_profile_table(spark, sf_dir):
    """Single-pass column profiler over events (K-ext): the reference's
    data-quality reporting generalized — one scan however many columns."""
    from oeem_etl_spark.operators.quality import profile_table

    ev = T(spark, sf_dir, "events")
    return profile_table(ev, numeric_cols=["value", "user_id"], string_cols=["event_type"])


# ---------------------------------------------------------------------------
# K-ext: seasonal baseline, gap inventory, anomaly detection
# ---------------------------------------------------------------------------


@query(
    "k15_seasonal_baseline",
    sql="""
    WITH cells AS (
      SELECT user_id, dayofweek(ts) AS dw, hour(ts) AS hr,
             SUM(CAST(ROUND(value * 1000000) AS BIGINT)) / COUNT(*) / 1000000.0
               AS expected
      FROM events GROUP BY user_id, dw, hr
    )
    SELECT e.event_id, e.value, ROUND(c.expected, 6) AS expected,
           ROUND(e.value - c.expected, 6) AS deviation
    FROM events e
    JOIN cells c ON e.user_id = c.user_id
                AND dayofweek(e.ts) = c.dw AND hour(e.ts) = c.hr
    """,
    tier="T2",
    survey="K3,D1,H4",
)
def k15_seasonal_baseline(spark, sf_dir):
    """Seasonal (day-of-week × hour-of-day) usage baseline per meter with
    per-reading deviation — the calendarized-baseline core of the
    reference ecosystem's savings computation. Day-of-week LABELS differ
    across engines (Spark 1-7, DuckDB 0-6) but only the cell partitioning
    matters, and that is identical."""
    from oeem_etl_spark.operators.timeseries import seasonal_baseline

    ev = T(spark, sf_dir, "events")
    out = seasonal_baseline(ev, ["user_id"], "ts", "value")
    return out.select("event_id", "value", "expected", "deviation")


@query(
    "k16_gap_report",
    sql="""
    WITH b AS (SELECT DISTINCT user_id, date_trunc('hour', ts) AS bucket
               FROM events),
    g AS (SELECT user_id, bucket,
                 lag(bucket) OVER (PARTITION BY user_id ORDER BY bucket) AS prev
          FROM b)
    SELECT user_id,
           prev + INTERVAL 1 HOUR AS gap_start,
           bucket - INTERVAL 1 HOUR AS gap_end,
           CAST((epoch(bucket) - epoch(prev)) / 3600 - 1 AS BIGINT) AS n_missing
    FROM g
    WHERE prev IS NOT NULL AND (epoch(bucket) - epoch(prev)) / 3600 - 1 > 0
    """,
    tier="T2",
    survey="K4,E2,H4",
)
def k16_gap_report(spark, sf_dir):
    """Contiguous-gap inventory over hourly meter buckets: the fill_gaps
    complement — reports gap INTERVALS (output = #gaps) instead of
    materializing missing cells (output = #missing), the right shape for
    sparse meters at scale."""
    from oeem_etl_spark.operators.timeseries import gap_report

    ev = T(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("hour", "ts").alias("bucket")
    )
    return gap_report(ev, ["user_id"], "bucket", freq="hour")


@query(
    "k17_zscore_anomalies",
    sql="""
    SELECT event_id, user_id, value, roll_mean, roll_std, zscore FROM (
      SELECT event_id, user_id, value,
             ROUND(m, 6) AS roll_mean, ROUND(s, 6) AS roll_std,
             ROUND((value - m) / s, 6) AS zscore
      FROM (
        SELECT event_id, user_id, value,
               AVG(value) OVER w AS m, STDDEV_SAMP(value) OVER w AS s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
      )
    ) WHERE roll_std IS NOT NULL AND roll_std > 0 AND ABS(zscore) > 3
    """,
    tier="T2",
    survey="E3,D3,K9",
)
def k17_zscore_anomalies(spark, sf_dir):
    """Rolling z-score anomaly detection per meter: each reading vs the
    mean/std of its 24 preceding readings, |z| > 3 flagged (meter-fault
    screening). Pure window frame — no state, no UDF."""
    from oeem_etl_spark.operators.timeseries import rolling_zscore_anomalies

    ev = T(spark, sf_dir, "events")
    out = rolling_zscore_anomalies(
        ev, ["user_id"], "ts", "value", window_rows=24, threshold=3.0,
        tiebreak="event_id",
    )
    return out.select("event_id", "user_id", "value", "roll_mean", "roll_std", "zscore")


@query(
    "k18_degree_day_normalize",
    sql="""
    WITH temps AS (
      SELECT event_id, user_id, ts, value,
             ROUND(((ascii(substring(md5(CAST(CAST(date_trunc('day', ts) AS DATE)
                                              AS VARCHAR)), 1, 1)) * 256
                     + ascii(substring(md5(CAST(CAST(date_trunc('day', ts) AS DATE)
                                                AS VARCHAR)), 2, 1))) % 3500)
                   / 100.0 - 5.0, 2) AS temp
      FROM events
    ),
    dd AS (
      SELECT user_id, CAST(date_trunc('month', ts) AS TIMESTAMP) AS month,
             CAST(ROUND(value * 1000000) AS BIGINT) AS vm,
             CAST(ROUND(GREATEST(0.0, ROUND(18.0 - temp, 2)) * 1000000) AS BIGINT) AS hm,
             CAST(ROUND(GREATEST(0.0, ROUND(temp - 18.0, 2)) * 1000000) AS BIGINT) AS cm
      FROM temps
    ),
    agg AS (
      SELECT user_id, month, SUM(vm) AS v, SUM(hm) AS h, SUM(cm) AS c
      FROM dd GROUP BY user_id, month
    )
    SELECT user_id, month,
           ROUND(v / 1000000.0, 6) AS usage_total,
           ROUND(h / 1000000.0, 6) AS hdd_total,
           ROUND(c / 1000000.0, 6) AS cdd_total,
           CASE WHEN h > 0 THEN ROUND(v * 1.0 / h, 6) END AS usage_per_hdd,
           CASE WHEN c > 0 THEN ROUND(v * 1.0 / c, 6) END AS usage_per_cdd
    FROM agg
    """,
    tier="T2",
    survey="K8,K3,H6,H4",
)
def k18_degree_day_normalize(spark, sf_dir):
    """Degree-day weather normalization per meter-month (eemeter's core
    idea as a relational composition). Daily temperature is a DETERMINISTIC
    md5-derived synthetic (documented stub — the join/aggregation shape is
    the deliverable; swap in a real weather dimension at will)."""
    from oeem_etl_spark.operators.timeseries import degree_day_normalize

    ev = T(spark, sf_dir, "events")
    out = degree_day_normalize(ev, ["user_id"], "ts", "value")
    # month as TIMESTAMP_NTZ on both sides (date vs datetime64 dtype flap)
    return out.withColumn("month", F.col("month").cast("timestamp_ntz"))


@query(
    "k19_period_savings",
    sql="""
    WITH agg AS (
      SELECT user_id,
             SUM(CASE WHEN ts < TIMESTAMP '2024-01-15'
                      THEN CAST(ROUND(value * 1000000) AS BIGINT) END) AS bv,
             COUNT(CASE WHEN ts < TIMESTAMP '2024-01-15' THEN 1 END) AS bn,
             SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15'
                      THEN CAST(ROUND(value * 1000000) AS BIGINT) END) AS rv,
             COUNT(CASE WHEN ts >= TIMESTAMP '2024-01-15' THEN 1 END) AS rn
      FROM events GROUP BY user_id
    )
    SELECT user_id, bn AS n_baseline, rn AS n_reporting,
           ROUND(bv / bn / 1000000.0, 6) AS baseline_avg,
           ROUND(rv / rn / 1000000.0, 6) AS reporting_avg,
           ROUND(bv / bn / 1000000.0 - rv / rn / 1000000.0, 6) AS savings_abs,
           CASE WHEN bn > 0 AND rn > 0 AND bv <> 0
                THEN ROUND((bv / bn / 1000000.0 - rv / rn / 1000000.0)
                           / (bv / bn / 1000000.0), 6) END AS savings_frac
    FROM agg
    """,
    tier="T2",
    survey="K7,K9,D1,B4",
)
def k19_period_savings(spark, sf_dir):
    """Baseline-vs-reporting savings per meter around a cutoff — the
    project-level output of the reference ecosystem (baseline_period_end /
    reporting_period_start), one conditional-aggregate pass."""
    from oeem_etl_spark.operators.timeseries import period_savings

    ev = T(spark, sf_dir, "events")
    return period_savings(ev, ["user_id"], "ts", "value", "2024-01-15")


@query(
    "k20_observed_load",
    sql="""
    SELECT event_id, user_id, event_type, value FROM events
    """,
    tier="T2",
    survey="K9,K10",
)
def k20_observed_load(spark, sf_dir):
    """Load with piggybacked observe() metrics (row count + null counts
    ride the scan as accumulators — no second pass over the data). The
    frame is row-identical to the plain projection, so the oracle checks
    the passthrough; the metric values themselves are asserted in
    tests/test_clustering.py::test_observe_load_metrics."""
    from oeem_etl_spark.operators.quality import observe_load

    ev = T(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    return observe_load(ev, ["user_id", "value"])


@query(
    "k21_funnel_stages",
    sql="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    t1 AS (SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
    t2 AS (SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t2
           FROM events e JOIN t1 USING (user_id)
           WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > t1.t1
           GROUP BY e.user_id),
    t3 AS (SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t3
           FROM events e JOIN t2 USING (user_id)
           WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > t2.t2
           GROUP BY e.user_id)
    SELECT u.user_id,
           CAST(CASE WHEN t3.user_id IS NOT NULL THEN 3
                     WHEN t2.user_id IS NOT NULL THEN 2
                     WHEN t1.user_id IS NOT NULL THEN 1
                     ELSE 0 END AS INT) AS stage
    FROM u LEFT JOIN t1 USING (user_id) LEFT JOIN t2 USING (user_id)
           LEFT JOIN t3 USING (user_id)
    """,
    tier="T2",
    survey="K11,D1,C2,B4",
)
def k21_funnel_stages(spark, sf_dir):
    """Funnel progression per user (view → click → purchase,
    greedy-earliest strictly-ordered chain): one conditional min-agg per
    stage, all shuffles co-partitioned on user_id."""
    from oeem_etl_spark.operators.behavior import funnel_stages

    ev = T(spark, sf_dir, "events")
    return funnel_stages(ev, "user_id", "ts", "event_type",
                         ["view", "click", "purchase"])


@query(
    "k22_cohort_retention",
    sql="""
    WITH act AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS period
      FROM events
    ),
    cohorts AS (SELECT user_id, MIN(period) AS cohort FROM act GROUP BY user_id)
    SELECT CAST(cohort AS TIMESTAMP) AS cohort,
           CAST((period - cohort) / 7 AS INT) AS period_offset,
           COUNT(DISTINCT act.user_id) AS n_users
    FROM act JOIN cohorts USING (user_id)
    GROUP BY cohorts.cohort, period_offset
    """,
    tier="T2",
    survey="K11,D2,H4",
)
def k22_cohort_retention(spark, sf_dir):
    """Weekly cohort retention matrix: users bucketed by first-activity
    ISO week; n_users active at each week offset."""
    from oeem_etl_spark.operators.behavior import cohort_retention

    ev = T(spark, sf_dir, "events")
    # cohort as TIMESTAMP_NTZ on both sides (date vs datetime64 dtype flap)
    return cohort_retention(ev, "user_id", "ts").withColumn(
        "cohort", F.col("cohort").cast("timestamp_ntz")
    )


@query(
    "k23_calendarize",
    sql=f"""
    WITH iv AS (
      SELECT l.l_orderkey, l.l_linenumber,
             o.o_orderdate AS s, l.l_shipdate AS e, l.l_extendedprice AS v
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_shipdate >= o.o_orderdate
    ),
    parts AS (
      SELECT s, e, v,
             CAST(unnest(generate_series(date_trunc('month', s),
                                         date_trunc('month', e),
                                         INTERVAL 1 MONTH)) AS DATE) AS month
      FROM iv
    ),
    alloc AS (
      SELECT month,
             (CAST(round(v * 10000) AS BIGINT)
                * (date_diff('day', greatest(s, month),
                             least(e, last_day(month))) + 1))
               // (date_diff('day', s, e) + 1) / 10000.0 AS a
      FROM parts
    )
    SELECT CAST(month AS TIMESTAMP) AS month, COUNT(*) AS n_parts,
           {sql_dsum('a', 'recognized', 4)}
    FROM alloc GROUP BY alloc.month
    """,
    tier="T2",
    survey="K7,H4,D1",
)
def k23_calendarize(spark, sf_dir):
    """Calendarization: prorate each order's line revenue across the
    calendar months between order date and ship date by day-overlap
    fraction, then roll up recognized revenue per month — the
    billing-period alignment move the reference's domain (meter billing
    intervals vs reporting months) is built around. r10: the per-
    (interval × month) explode (8.84M generated rows at sf0.1, the bare
    Generate alone 65% of the query) is replaced by
    calendarize_monthly's difference-array fold — ≤4 constant-width
    emitted rows per interval + one bounded cumulative pass over the
    calendar axis; bit-identical to calendarize().groupBy(month)
    (operator property test + oracle)."""
    from oeem_etl_spark.operators.timeseries import calendarize_monthly

    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    iv = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .where(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select("o_orderdate", "l_shipdate", "l_extendedprice")
    )
    rolled = calendarize_monthly(iv, "o_orderdate", "l_shipdate", "l_extendedprice")
    # month as TIMESTAMP_NTZ on both sides (date vs datetime64 dtype flap).
    # The e4 long sum / 1e4 matches dsum(alloc, scale=4) exactly (r9 note:
    # alloc = e4/1e4 round-trips, |e4| < 2^50); ANSI long sums keep the
    # overflow raise of the non-ANSI _overflow_guard path.
    return rolled.select(
        F.col("month").cast("timestamp_ntz").alias("month"),
        F.col("n_parts"),
        F.round(F.col("l_extendedprice_alloc_e4_sum") / F.lit(10_000.0), 4).alias(
            "recognized"
        ),
    )


_TOU_PEAK = (
    "isodow(CAST(ts AS TIMESTAMP)) <= 5"
    " AND hour(CAST(ts AS TIMESTAMP)) BETWEEN 8 AND 19"
)


@query(
    "k24_tou_buckets",
    sql=f"""
    SELECT user_id,
           {sql_dsum(f"CASE WHEN {_TOU_PEAK} THEN value ELSE 0 END", "peak_kwh")},
           {sql_dsum(f"CASE WHEN NOT ({_TOU_PEAK}) THEN value ELSE 0 END", "offpeak_kwh")}
    FROM events GROUP BY user_id
    """,
    tier="T2",
    survey="K8,B4,D1,H4",
)
def k24_tou_buckets(spark, sf_dir):
    """Time-of-use tariff split (metering-analytics staple): per-user
    consumption in the weekday 08:00–19:59 peak window vs everything else.
    One map-combinable aggregate — the conditional routing is a scan-side
    projection; integer-micros accumulation keeps both buckets exact."""
    ev = T(spark, sf_dir, "events")
    # weekday(): 0=Monday — weekday<=4 matches the oracle's isodow<=5
    is_peak = (F.weekday("ts") <= 4) & F.hour("ts").between(8, 19)
    return ev.groupBy("user_id").agg(
        dsum(F.when(is_peak, F.col("value")).otherwise(F.lit(0.0)), "peak_kwh"),
        dsum(F.when(~is_peak, F.col("value")).otherwise(F.lit(0.0)), "offpeak_kwh"),
    )


@query(
    "k25_reconciliation",
    sql=f"""
    WITH raw AS (
      SELECT user_id, {sql_dsum('value', 'raw_total')}, COUNT(*) AS n_raw
      FROM events GROUP BY user_id
    ),
    daily AS (
      SELECT user_id, date_trunc('day', ts) AS bucket,
             {sql_dsum('value', 'day_total')}
      FROM events GROUP BY user_id, bucket
    ),
    rolled AS (
      SELECT user_id, {sql_dsum('day_total', 'rolled_total')},
             COUNT(*) AS n_days
      FROM daily GROUP BY user_id
    )
    SELECT r.user_id, r.n_raw, d.n_days, r.raw_total, d.rolled_total,
           ROUND(ABS(r.raw_total - d.rolled_total), 6) AS abs_diff,
           (ROUND(ABS(r.raw_total - d.rolled_total), 6) = 0.0) AS balanced
    FROM raw r JOIN rolled d USING (user_id)
    """,
    tier="T2",
    survey="K9,K3,D1",
)
def k25_reconciliation(spark, sf_dir):
    """Conservation audit (the ETL QA step after any resample): per user,
    the raw-read total must equal the sum of the daily rollup — surfaced
    as an abs-diff + balanced flag report. Integer-micros accumulation on
    BOTH levels makes the equality exact, so 'balanced' is a real
    invariant, not a tolerance. Two map-combinable aggregations and one
    equi-join on user_id."""
    ev = T(spark, sf_dir, "events")
    raw = ev.groupBy("user_id").agg(
        dsum("value", "raw_total"), F.count(F.lit(1)).alias("n_raw")
    )
    daily = resample_interval(
        ev, keys=["user_id"], ts="ts", freq="day", aggs=[dsum("value", "day_total")]
    )
    rolled = daily.groupBy("user_id").agg(
        dsum("day_total", "rolled_total"), F.count(F.lit(1)).alias("n_days")
    )
    diff = F.round(F.abs(F.col("raw_total") - F.col("rolled_total")), 6)
    return (
        raw.join(rolled, "user_id")
        .select(
            "user_id", "n_raw", "n_days", "raw_total", "rolled_total",
            diff.alias("abs_diff"),
            (diff == 0.0).alias("balanced"),
        )
    )


@query(
    "k26_point_in_time_join",
    sql="""
    WITH opened AS (
      SELECT user_id, event_type, ts AS valid_from,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS version
      FROM (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events WHERE user_id <= 20
      )
      WHERE prev IS NULL OR prev <> event_type
    ),
    dim AS (
      SELECT user_id, event_type, version, valid_from,
             lead(valid_from) OVER (PARTITION BY user_id
                                    ORDER BY valid_from, version) AS valid_to
      FROM opened
    )
    SELECT e.event_id, e.user_id,
           s.version AS dim_version, s.event_type AS dim_type
    FROM events e JOIN dim s
      ON e.user_id = s.user_id
     AND s.valid_from <= e.ts
     AND (s.valid_to IS NULL OR e.ts < s.valid_to)
    WHERE e.user_id <= 20
    """,
    tier="T2",
    survey="C8,K6,E2",
)
def k26_point_in_time_join(spark, sf_dir):
    """Point-in-time (temporal) join — the canonical warehouse lookup:
    each fact row resolves the SCD2 dimension version valid at its
    timestamp. Expressed as a backward as-of join on (user, valid_from),
    NOT an interval range join: validity intervals partition the
    timeline, so "latest valid_from ≤ ts" IS the containing interval —
    one ordered lookup instead of an O(facts·versions) theta join.
    Empty intervals (superseded same-timestamp versions) are filtered
    first, which also makes valid_from unique per user."""
    from oeem_etl_spark.operators.history import scd2_from_events

    ev = T(spark, sf_dir, "events").where(F.col("user_id") <= 20)
    dim = scd2_from_events(ev, "user_id", "ts", ["event_type"], tiebreak="event_id")
    dim = dim.where(
        F.col("valid_to").isNull() | (F.col("valid_from") < F.col("valid_to"))
    ).select(
        "user_id",
        F.col("valid_from"),
        F.col("version").alias("dim_version"),
        F.col("event_type").alias("dim_type"),
    )
    facts = ev.select("event_id", "user_id", "ts")
    out = asof_join(
        facts,
        dim,
        keys=["user_id"],
        left_ts="ts",
        right_ts="valid_from",
        value_cols=["dim_version", "dim_type"],
        allow_exact=True,
    )
    return out.select("event_id", "user_id", "dim_version", "dim_type")


@query(
    "k27_rated_billing",
    sql="""
    WITH rates AS (
      SELECT user_id, TIMESTAMP '2024-01-01 00:00:00' AS rate_ts, 2 AS rate
      FROM (SELECT DISTINCT user_id FROM events)
      UNION ALL
      SELECT user_id, TIMESTAMP '2024-01-15 00:00:00', 3
      FROM (SELECT DISTINCT user_id FROM events)
    ),
    rated AS (
      SELECT e.ts, e.value, r.rate
      FROM events e
      ASOF JOIN rates r ON e.user_id = r.user_id AND r.rate_ts <= e.ts
    )
    SELECT p.period, COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(rated.value AS DECIMAL(30,6)) * rated.rate)
                 AS DOUBLE), 6) AS billed
    FROM rated
    JOIN (VALUES ('w1', TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-08'),
                 ('w2', TIMESTAMP '2024-01-05', TIMESTAMP '2024-01-12'),
                 ('m1', TIMESTAMP '2024-01-01', TIMESTAMP '2024-02-01'))
         AS p(period, p_start, p_end)
      ON rated.ts < p.p_end AND p.p_start < rated.ts + INTERVAL 1 HOUR
    GROUP BY p.period
    """,
    tier="T2",
    survey="C7,C8,D1",
)
def k27_rated_billing(spark, sf_dir):
    """Fused metering pipeline — the reference's rate-aware billing shape:
    (1) C8 backward as-of join attaches each consumption event's
    then-current tariff from a per-user rate-change history (tariff switch
    mid-month; one shuffle on user_id via the union+window as-of plan);
    (2) C7 interval-overlap join buckets the rated hour-events into
    overlapping billing periods (broadcast of the tiny period table);
    (3) exact decimal rollup of value x rate per period. Composition is
    the point: as-of output flows straight into the overlap join with no
    extra exchange beyond the as-of's own."""
    from pyspark.sql import functions as F

    from oeem_etl_spark.operators.relational import interval_overlap_join

    ev = (
        T(spark, sf_dir, "events")
        .select("user_id", "ts", "value")
        .withColumn("ev_end", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
    )
    users = ev.select("user_id").distinct()
    changes = local_frame(
        spark,
        [("2024-01-01 00:00:00", 2), ("2024-01-15 00:00:00", 3)],
        "rate_ts_s STRING, rate INT",
    ).select(F.col("rate_ts_s").cast("timestamp").alias("rate_ts"), "rate")
    rates = users.crossJoin(F.broadcast(changes))
    rated = asof_join(
        ev,
        rates,
        keys=["user_id"],
        left_ts="ts",
        right_ts="rate_ts",
        value_cols=["rate"],
        allow_exact=True,
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
        rated, F.broadcast(periods), "ts", "ev_end", "p_start", "p_end"
    )
    return joined.groupBy("period").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(30,6)") * F.col("rate")).cast(
                "double"
            ),
            6,
        ).alias("billed"),
    )


@query(
    "k29_interpolate_gaps",
    sql="""
    WITH daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
             SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS v_fp
      FROM events GROUP BY user_id, bucket
    ), spans AS (
      SELECT user_id, min(bucket) AS min_b, max(bucket) AS max_b
      FROM daily GROUP BY user_id
    ), grid AS (
      SELECT user_id, unnest(generate_series(min_b, max_b, INTERVAL 1 DAY)) AS bucket
      FROM spans
    ), j AS (
      SELECT g.user_id, g.bucket, d.v_fp
      FROM grid g LEFT JOIN daily d USING (user_id, bucket)
    ), w AS (
      SELECT user_id, bucket, v_fp,
        last_value(v_fp IGNORE NULLS) OVER wb AS pv,
        last_value(CASE WHEN v_fp IS NOT NULL THEN bucket END IGNORE NULLS)
          OVER wb AS pb,
        first_value(v_fp IGNORE NULLS) OVER wf AS nv,
        first_value(CASE WHEN v_fp IS NOT NULL THEN bucket END IGNORE NULLS)
          OVER wf AS nb
      FROM j
      WINDOW wb AS (PARTITION BY user_id ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY user_id ORDER BY bucket
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, CAST(bucket AS TIMESTAMP) AS day,
      ROUND(CAST(CASE
          WHEN v_fp IS NOT NULL THEN v_fp
          WHEN pv IS NULL THEN nv
          WHEN nv IS NULL THEN pv
          ELSE pv + CAST(
            (((nv - pv) * date_diff('day', pb, bucket))
             - ((nv - pv) * date_diff('day', pb, bucket))
               % date_diff('day', pb, nb))
            / date_diff('day', pb, nb) AS BIGINT)
        END AS BIGINT) / 1000000.0, 6) AS interp_total,
      CAST(v_fp IS NULL AS BOOLEAN) AS was_gap
    FROM w
    """,
    tier="T2",
    survey="K4,E4,H9",
)
def k29_interpolate_gaps(spark, sf_dir):
    """Dense daily grid per user with LINEARLY interpolated totals — the
    meter-read estimation rule (allocate the change across missing days)
    next to k4's forward-fill. Exact fixed-point interpolation, so the
    oracle matches bit-for-bit (see operators/timeseries.interpolate_gaps).
    """
    from oeem_etl_spark.operators.timeseries import interpolate_gaps

    ev = T(spark, sf_dir, "events")
    daily = resample_interval(
        ev, keys=["user_id"], ts="ts", freq="day", aggs=[dsum("value", "day_total")]
    )
    out = interpolate_gaps(
        daily, keys=["user_id"], bucket="bucket", value="day_total", freq="day"
    )
    return out.select(
        "user_id",
        F.col("bucket").cast("timestamp_ntz").alias("day"),
        F.col("day_total").alias("interp_total"),
        "was_gap",
    )


@query(
    "k30_rolling_median",
    sql="""
    SELECT event_id, user_id,
           ROUND(median(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS med7
    FROM events WHERE user_id <= 200
    """,
    tier="T2",
    survey="E3,D6",
)
def k30_rolling_median(spark, sf_dir):
    """Rolling 7-reading median per meter — the robust smoother for spiky
    telemetry (a single bad read moves a mean but not a median). Spark
    forbids median() over a moving frame, so the frame is materialized
    with collect_list (bounded: ≤7 elements) and the interpolated median
    is read off the sorted array — exact, and identical to DuckDB's
    windowed median. event_id tie-break for deterministic frames."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
    hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    return (
        T(spark, sf_dir, "events")
        .where(F.col("user_id") <= 200)
        .select(
            "event_id",
            "user_id",
            F.round((lo + hi) / 2, 4).alias("med7"),
        )
    )


@query(
    "k31_winsorize",
    sql=f"""
    WITH cuts AS (
      SELECT event_type,
             ROUND(quantile_cont(value, 0.05), 4) AS lo,
             ROUND(quantile_cont(value, 0.95), 4) AS hi
      FROM events GROUP BY event_type
    ), clamped AS (
      SELECT e.event_type, LEAST(GREATEST(e.value, c.lo), c.hi) AS cv
      FROM events e JOIN cuts c USING (event_type)
    )
    SELECT event_type, COUNT(*) AS n,
           {sql_davg('cv', 'wins_mean')}
    FROM clamped GROUP BY event_type
    """,
    tier="T2",
    survey="K8,D6,C9",
)
def k31_winsorize(spark, sf_dir):
    """Winsorized (tail-clamped) mean per event type: exact p05/p95
    cutoffs (rounded to 4dp so the clamp boundary is engine-stable), a
    broadcast join of the tiny cutoff table back onto the stream, clamp,
    micros-exact mean. The standard robust-scaling pass before feeding
    meter features to a model — two aggregations, one broadcast, no
    sort of the raw data."""
    ev = T(spark, sf_dir, "events")
    cuts = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.05), 4).alias("lo"),
        F.round(F.percentile("value", 0.95), 4).alias("hi"),
    )
    clamped = ev.join(F.broadcast(cuts), "event_type").select(
        "event_type",
        F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")).alias("cv"),
    )
    return clamped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), davg("cv", "wins_mean")
    )


@query(
    "k32_ewma",
    sql="""
    WITH w AS (
      SELECT event_id, user_id,
             list(CAST(ROUND(value * 10000) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 20 PRECEDING AND CURRENT ROW) AS arr
      FROM events WHERE user_id <= 200
    ), s AS (
      SELECT event_id, user_id,
             CAST(list_dot_product(CAST(arr AS DOUBLE[]),
               list_transform(generate_series(1, len(arr)),
                              p -> power(2, p - 1))) AS BIGINT) AS numer,
             CAST(power(2, len(arr)) AS BIGINT) - 1 AS denom
      FROM w
    )
    SELECT event_id, user_id,
           ROUND(CAST((numer - numer % denom) / denom AS BIGINT)
                 / 10000.0, 4) AS ewma
    FROM s
    """,
    tier="T2",
    survey="E3,E2,H8",
)
def k32_ewma(spark, sf_dir):
    """Exact half-decay EWMA per meter (operators/timeseries.ewma_half):
    power-of-two weights in integer fixed-point, so the smoother is
    bit-identical to the DuckDB oracle's windowed dot product."""
    from oeem_etl_spark.operators.timeseries import ewma_half

    ev = T(spark, sf_dir, "events").where(F.col("user_id") <= 200)
    out = ewma_half(ev, keys=["user_id"], ts="ts", value="value", tiebreak="event_id")
    return out.select("event_id", "user_id", "ewma")


@query(
    "k33_per_meter_ols",
    sql="""
    WITH temps AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(ROUND(value * 1000000) AS BIGINT) AS vm,
             ROUND(((ascii(substring(md5(CAST(CAST(date_trunc('day', ts) AS DATE)
                                              AS VARCHAR)), 1, 1)) * 256
                     + ascii(substring(md5(CAST(CAST(date_trunc('day', ts) AS DATE)
                                                AS VARCHAR)), 2, 1))) % 3500)
                   / 100.0 - 5.0, 2) AS temp
      FROM events
    ), daily AS (
      SELECT user_id, day,
             ROUND(CAST(SUM(vm) AS BIGINT) / 1000000.0, 6) AS y,
             ROUND(GREATEST(0.0, ROUND(18.0 - temp, 2)), 2) AS hdd
      FROM temps GROUP BY user_id, day, temp
    ), s AS (
      SELECT user_id, COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(hdd * 100) AS BIGINT)) AS BIGINT) AS sx,
             CAST(SUM(CAST(ROUND(y * 1000000) AS BIGINT)) AS BIGINT) AS sy,
             CAST(SUM(CAST(ROUND(hdd * 100) AS BIGINT)
                      * CAST(ROUND(y * 1000000) AS BIGINT)) AS BIGINT) AS sxy,
             CAST(SUM(CAST(ROUND(hdd * 100) AS BIGINT)
                      * CAST(ROUND(hdd * 100) AS BIGINT)) AS BIGINT) AS sxx
      FROM daily GROUP BY user_id
    )
    SELECT user_id, n,
           CASE WHEN (n * sxx - sx * sx) != 0 THEN
             ROUND(((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 0.0001, 6)
           END AS slope,
           CASE WHEN (n * sxx - sx * sx) != 0 THEN
             ROUND((sy / n / 1000000.0)
                   - (((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 0.0001)
                     * (sx / n / 100.0), 6)
           END AS intercept
    FROM s
    """,
    tier="T2",
    survey="K9,D3,D1",
)
def k33_per_meter_ols(spark, sf_dir):
    """Per-meter weather-normalization fit (the eemeter core reduced to
    relational form): daily usage regressed on heating degree days, one
    closed-form OLS per key via exact fixed-point sufficient statistics
    (operators/timeseries.per_key_ols) — a million meters fit in one
    map-combinable groupBy, no grouped-map UDF."""
    from oeem_etl_spark.operators.timeseries import (
        per_key_ols,
        synthetic_daily_temperature,
    )

    ev = T(spark, sf_dir, "events")
    daily = resample_interval(
        ev, keys=["user_id"], ts="ts", freq="day", aggs=[dsum("value", "y")]
    )
    temp = synthetic_daily_temperature(F.col("bucket"))
    hdd = F.round(F.greatest(F.lit(0.0), F.round(F.lit(18.0) - temp, 2)), 2)
    return per_key_ols(
        daily, keys=["user_id"], x=hdd, y=F.col("y"), x_scale=2, y_scale=6
    )


@query(
    "k34_nearest_station",
    sql="""
    WITH ch AS (
      SELECT c_custkey, md5('c:' || CAST(c_custkey AS VARCHAR)) AS h FROM customer
    ), c AS (
      SELECT c_custkey,
             (ascii(substr(h, 1, 1)) * 65536 + ascii(substr(h, 2, 1)) * 256
              + ascii(substr(h, 3, 1))) % 2000001 - 1000000 AS px,
             (ascii(substr(h, 4, 1)) * 65536 + ascii(substr(h, 5, 1)) * 256
              + ascii(substr(h, 6, 1))) % 2000001 - 1000000 AS py
      FROM ch
    ), sh AS (
      SELECT s_suppkey, md5('s:' || CAST(s_suppkey AS VARCHAR)) AS h FROM supplier
    ), s AS (
      SELECT s_suppkey,
             (ascii(substr(h, 1, 1)) * 65536 + ascii(substr(h, 2, 1)) * 256
              + ascii(substr(h, 3, 1))) % 2000001 - 1000000 AS sx,
             (ascii(substr(h, 4, 1)) * 65536 + ascii(substr(h, 5, 1)) * 256
              + ascii(substr(h, 6, 1))) % 2000001 - 1000000 AS sy
      FROM sh
    ), pairs AS (
      SELECT c.c_custkey,
             ((CAST(c.px AS BIGINT) - s.sx) * (CAST(c.px AS BIGINT) - s.sx)
              + (CAST(c.py AS BIGINT) - s.sy) * (CAST(c.py AS BIGINT) - s.sy))
             * 100000 + s.s_suppkey AS combined
      FROM c CROSS JOIN s
    )
    SELECT c_custkey,
           CAST(MIN(combined) % 100000 AS BIGINT) AS nearest_site,
           CAST(MIN(combined) // 100000 AS BIGINT) AS d2
    FROM pairs GROUP BY c_custkey
    """,
    tier="T2",
    survey="K-ext,C6,C5,H6",
)
def k34_nearest_station(spark, sf_dir):
    """Exact nearest-weather-station assignment per customer site — the
    reference domain's site↔station mapping, as a grid-blocked spatial NN
    join (operators/spatial.grid_nn_join). Coordinates are md5-derived
    integer micro-units so the DuckDB oracle reproduces them exactly; the
    oracle is the BRUTE-FORCE cross join, which the grid path must equal
    row-for-row (the provable-winner + exact-fallback guarantee). The
    min-struct tie-break (d2, site key) maps to the oracle's
    d2·100000+key combined-integer minimum."""
    from oeem_etl_spark.operators.spatial import grid_nn_join

    def coord(prefix, key, p):
        h = F.md5(F.concat(F.lit(prefix), F.col(key).cast("string")))
        v = (
            F.ascii(F.substring(h, p, 1)) * 65536
            + F.ascii(F.substring(h, p + 1, 1)) * 256
            + F.ascii(F.substring(h, p + 2, 1))
        )
        return (F.pmod(v, F.lit(2000001)) - F.lit(1000000)).cast("long")

    cust = T(spark, sf_dir, "customer").select(
        "c_custkey",
        coord("c:", "c_custkey", 1).alias("x"),
        coord("c:", "c_custkey", 4).alias("y"),
    )
    supp = T(spark, sf_dir, "supplier").select(
        "s_suppkey",
        coord("s:", "s_suppkey", 1).alias("x"),
        coord("s:", "s_suppkey", 4).alias("y"),
    )
    # cell sized to the fixture's site density (r9 tuning): 100k cells
    # put ~2-3 sites per cell at sf0.1 instead of ~9, nearly halving the
    # candidate fan-out (measured 1.29 -> 0.71 s end-to-end); the result
    # is cell-INDEPENDENT by grid_nn_join's provable-winner + exact-
    # fallback guarantee (sparser SFs just route more points through the
    # broadcast fallback, which is trivially small there).
    return grid_nn_join(
        cust, supp, "c_custkey", "s_suppkey", cell=100_000
    ).select(
        "c_custkey",
        F.col("nearest_site").cast("long").alias("nearest_site"),
        F.col("d2").cast("long").alias("d2"),
    )


@query(
    "k35_dst_local_rollup",
    sql=f"""
    WITH loc AS (
      SELECT ((ts + INTERVAL 69 DAY) AT TIME ZONE 'UTC')
               AT TIME ZONE 'America/New_York' AS lts,
             value
      FROM events
    )
    SELECT CAST(date_trunc('day', lts) AS TIMESTAMP) AS local_day,
           COUNT(*) AS n_events,
           COUNT(DISTINCT EXTRACT(hour FROM lts)) AS n_local_hours,
           {sql_dsum("value", "sum_value")}
    FROM loc GROUP BY local_day
    """,
    tier="T2",
    survey="K-ext,H4,D1,B2",
)
def k35_dst_local_rollup(spark, sf_dir):
    """DST-aware local-calendar rollup — the reference domain's billing
    rule (meter reads land in the customer's civil day, not UTC). Events
    are shifted +69 days in BOTH engines so the window crosses the
    2024-03-10 US spring-forward: the oracle proves Spark's JVM tz
    database and DuckDB's ICU agree through the transition (the 23-hour
    civil day shows up as n_local_hours=23). Conversion parity including
    the fall-back ambiguous hour was verified explicitly; both engines
    map a UTC instant to the same civil wall time."""
    ev = T(spark, sf_dir, "events")
    lts = F.from_utc_timestamp(
        F.col("ts") + F.expr("INTERVAL 69 DAYS"), "America/New_York"
    )
    return (
        ev.select(lts.alias("lts"), "value")
        .groupBy(F.date_trunc("day", F.col("lts")).alias("local_day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct(F.hour("lts")).alias("n_local_hours"),
            dsum(F.col("value"), "sum_value"),
        )
    )


@query(
    "k36_benford_audit",
    sql="""
    WITH d AS (
      SELECT substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
               AS digit
      FROM orders WHERE o_totalprice > 0
    ), c AS (
      SELECT digit, COUNT(*) AS n FROM d GROUP BY digit
    ), t AS (SELECT SUM(n) AS total FROM c)
    SELECT CAST(digit AS BIGINT) AS digit, n,
           ROUND(CAST(n AS DOUBLE) / total, 6) AS observed,
           ROUND(log10(1.0 + 1.0 / CAST(digit AS BIGINT)), 6) AS benford
    FROM c CROSS JOIN t
    """,
    tier="T2",
    survey="K9,H1,H5,D1",
)
def k36_benford_audit(spark, sf_dir):
    """Benford first-significant-digit audit on money amounts — the
    fabricated-data screen auditors run on billing exports. The digit is
    taken from the INTEGER-CENTS string (double formatting differs
    between engines; a bigint's decimal string does not), observed
    frequencies are exact count ratios, and the Benford expectation
    log10(1 + 1/d) is computed identically in both engines."""
    o = T(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    digit = F.substring(
        qlong(F.col("o_totalprice"), 100).cast("string"), 1, 1
    )
    c = o.groupBy(digit.alias("digit")).agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            F.col("digit").cast("long").alias("digit"),
            "n",
            F.round(F.col("n").cast("double") / F.col("total"), 6).alias("observed"),
            F.round(
                F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("long")), 6
            ).alias("benford"),
        )
    )


@query(
    "k37_meter_pipeline",
    sql="""
    WITH raw AS (
      SELECT event_id, user_id, ts, value FROM events
      UNION ALL
      SELECT event_id + 10000000, user_id, ts, value + 1.0
      FROM events WHERE event_id <= 500
    ), dedup AS (
      SELECT user_id, ts, arg_max(value, event_id) AS value
      FROM raw GROUP BY user_id, ts
    ), daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
             SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS v_fp
      FROM dedup GROUP BY user_id, bucket
    ), spans AS (
      SELECT user_id, min(bucket) AS min_b, max(bucket) AS max_b
      FROM daily GROUP BY user_id
    ), grid AS (
      SELECT user_id, unnest(generate_series(min_b, max_b, INTERVAL 1 DAY)) AS bucket
      FROM spans
    ), j AS (
      SELECT g.user_id, g.bucket, d.v_fp
      FROM grid g LEFT JOIN daily d USING (user_id, bucket)
    ), w AS (
      SELECT user_id, bucket, v_fp,
        last_value(v_fp IGNORE NULLS) OVER wb AS pv,
        last_value(CASE WHEN v_fp IS NOT NULL THEN bucket END IGNORE NULLS)
          OVER wb AS pb,
        first_value(v_fp IGNORE NULLS) OVER wf AS nv,
        first_value(CASE WHEN v_fp IS NOT NULL THEN bucket END IGNORE NULLS)
          OVER wf AS nb
      FROM j
      WINDOW wb AS (PARTITION BY user_id ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY user_id ORDER BY bucket
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    ), interp AS (
      SELECT user_id, bucket,
        CAST(CASE
            WHEN v_fp IS NOT NULL THEN v_fp
            WHEN pv IS NULL THEN nv
            WHEN nv IS NULL THEN pv
            ELSE pv + CAST(
              (((nv - pv) * date_diff('day', pb, bucket))
               - ((nv - pv) * date_diff('day', pb, bucket))
                 % date_diff('day', pb, nb))
              / date_diff('day', pb, nb) AS BIGINT)
          END AS BIGINT) AS fp,
        CAST(v_fp IS NULL AS BOOLEAN) AS was_gap
      FROM w
    )
    SELECT user_id, CAST(date_trunc('month', bucket) AS TIMESTAMP) AS month,
           COUNT(*) AS n_days,
           CAST(COALESCE(SUM(CASE WHEN was_gap THEN 1 END), 0) AS BIGINT)
             AS n_gap_days,
           ROUND(SUM(fp) / 1000000.0, 6) AS month_total
    FROM interp GROUP BY user_id, month
    """,
    tier="T2",
    survey="K5,K3,K4,K-ext,D12,D1",
)
def k37_meter_pipeline(spark, sf_dir):
    """The reference's meter job fused END TO END in one declarative plan
    (the K-family counterpart of the corpus funnel l27): late-arriving
    corrections (a doctored +1.0 re-issue of the first 500 reads with
    higher event_ids) → keep-latest dedup (max_by, map-combinable — no
    window) → daily fixed-point rollup → exact linear interpolation over
    the dense day grid → monthly totals with gap-day accounting. Every
    stage reuses an independently-oracled operator; the composite oracle
    chains their SQL forms, so a drift in ANY stage breaks the match."""
    from oeem_etl_spark.operators.relational import dedupe_keep_latest_by
    from oeem_etl_spark.operators.timeseries import interpolate_gaps

    ev = T(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    corrections = ev.where(F.col("event_id") <= 500).select(
        (F.col("event_id") + 10_000_000).alias("event_id"),
        "user_id",
        "ts",
        (F.col("value") + F.lit(1.0)).alias("value"),
    )
    raw = ev.unionByName(corrections)
    latest = dedupe_keep_latest_by(raw, ["user_id", "ts"], ["event_id"])
    daily = resample_interval(
        latest, keys=["user_id"], ts="ts", freq="day", aggs=[dsum("value", "day_total")]
    )
    interp = interpolate_gaps(
        daily, keys=["user_id"], bucket="bucket", value="day_total", freq="day"
    )
    micros = qlong(F.col("day_total"), 1_000_000)
    return (
        interp.groupBy(
            "user_id",
            F.date_trunc("month", F.col("bucket"))
            .cast("timestamp_ntz")
            .alias("month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(F.when(F.col("was_gap"), 1).otherwise(0)).alias("n_gap_days"),
            F.round(F.sum(micros) / F.lit(1e6), 6).alias("month_total"),
        )
    )


@query(
    "k38_conversion_latency",
    sql="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS t_conv
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > v.t_view
      GROUP BY e.user_id
    ), lat AS (
      SELECT p.user_id,
             epoch_us(p.t_conv) - epoch_us(v.t_view) AS latency_us
      FROM p JOIN v USING (user_id)
    )
    SELECT COUNT(*) AS n_converted,
           CAST(MIN(latency_us) AS BIGINT) AS min_us,
           ROUND(median(latency_us), 1) AS p50_us,
           ROUND(quantile_cont(latency_us, 0.9), 1) AS p90_us,
           CAST(MAX(latency_us) AS BIGINT) AS max_us
    FROM lat
    """,
    tier="T2",
    survey="K-ext,D6,E2,C1,D1",
)
def k38_conversion_latency(spark, sf_dir):
    """Funnel latency distribution — the timing face of k21's stage
    counts: per user, first 'view' to first subsequent 'purchase', then
    exact percentiles over the latency population (both engines
    interpolate quantiles identically, the d6-established parity). Two
    aggregations share the user_id partitioning; the percentile rollup
    is a single 1-row reduce."""
    ev = T(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_conv"))
    )
    lat = p.join(v, "user_id").select(
        (F.unix_micros("t_conv") - F.unix_micros("t_view")).alias("latency_us")
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.min("latency_us").alias("min_us"),
        F.round(F.median("latency_us"), 1).alias("p50_us"),
        F.round(F.percentile("latency_us", 0.9), 1).alias("p90_us"),
        F.max("latency_us").alias("max_us"),
    )


@query(
    "k39_peak_demand",
    sql="""
    WITH hourly AS (
      SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS month,
             date_trunc('hour', ts) AS hour,
             ROUND(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) / 1000000.0, 6)
               AS sys_total
      FROM events GROUP BY 1, 2
    ),
    peak AS (
      SELECT month, hour AS peak_hour, sys_total AS system_peak
      FROM (SELECT *, row_number() OVER (
              PARTITION BY month ORDER BY sys_total DESC, hour ASC) AS rn
            FROM hourly)
      WHERE rn = 1
    ),
    uh AS (
      SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS month,
             date_trunc('hour', ts) AS hour, user_id,
             ROUND(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) / 1000000.0, 6)
               AS user_total
      FROM events GROUP BY 1, 2, 3
    ),
    own AS (
      SELECT month, user_id, MAX(user_total) AS own_peak
      FROM uh GROUP BY 1, 2
    ),
    coin AS (
      SELECT uh.month, p.peak_hour, p.system_peak, uh.user_id,
             uh.user_total AS coincident,
             row_number() OVER (PARTITION BY uh.month
               ORDER BY uh.user_total DESC, uh.user_id ASC) AS rnk
      FROM uh JOIN peak p ON uh.month = p.month AND uh.hour = p.peak_hour
    )
    SELECT c.month, c.peak_hour, c.system_peak, c.rnk, c.user_id,
           c.coincident, o.own_peak,
           ROUND(c.coincident / c.system_peak, 6) AS peak_share
    FROM coin c JOIN own o ON c.month = o.month AND c.user_id = o.user_id
    WHERE c.rnk <= 3
    ORDER BY c.month, c.rnk
    """,
    tier="T2",
    survey="K-ext,D1,E1,C1,H4",
)
def k39_peak_demand(spark, sf_dir):
    """Demand-charge analytics: per month, the system peak hour (max
    hourly total, ties to the earlier hour) and the top-3 coincident
    contributors — each with its own non-coincident monthly peak and its
    share of the system peak. The per-(hour, user) rollup is computed
    once and reused for both the coincident lookup and the own-peak
    rollup (shared partitioning, no second scan); the peak-hour frame is
    one row per month, broadcast into the contributor join. Hourly sums
    are integer-micros so both engines agree to the last digit."""
    from pyspark.sql import Window

    ev = T(spark, sf_dir, "events").select(
        F.date_trunc("month", F.col("ts")).cast("timestamp_ntz").alias("month"),
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        "user_id",
        "value",
    )
    uh = ev.groupBy("month", "hour", "user_id").agg(
        dsum("value", "user_total")
    )
    hourly = uh.groupBy("month", "hour").agg(
        # dsum, not a bare double sum: user_total is exact at 6 dp, so the
        # re-quantization is lossless and the hourly total stays integer
        # micros — a float sum's partition-order error could flip the
        # ORDER BY sys_total peak pick between near-tied hours at scale
        dsum("user_total", "sys_total")
    )
    w = Window.partitionBy("month").orderBy(
        F.col("sys_total").desc(), F.col("hour").asc()
    )
    peak = (
        hourly.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("month").alias("__pmonth"),
            F.col("hour").alias("peak_hour"),
            F.col("sys_total").alias("system_peak"),
        )
    )
    own = uh.groupBy("month", "user_id").agg(F.max("user_total").alias("own_peak"))
    wc = Window.partitionBy("month").orderBy(
        F.col("coincident").desc(), F.col("user_id").asc()
    )
    coin = (
        uh.join(
            F.broadcast(peak),
            (F.col("month") == F.col("__pmonth"))
            & (F.col("hour") == F.col("peak_hour")),
        )
        .select("month", "peak_hour", "system_peak", "user_id",
                F.col("user_total").alias("coincident"))
        .withColumn("rnk", F.row_number().over(wc))
        .where(F.col("rnk") <= 3)
    )
    return (
        coin.join(own, ["month", "user_id"])
        .select(
            "month", "peak_hour", "system_peak", "rnk", "user_id",
            "coincident", "own_peak",
            F.round(F.col("coincident") / F.col("system_peak"), 6).alias(
                "peak_share"
            ),
        )
        .orderBy("month", "rnk")
    )


@query(
    "k40_tiered_billing",
    sql="""
    WITH m AS (
      SELECT user_id, CAST(date_trunc('month', ts) AS TIMESTAMP) AS month,
             CAST(ROUND(value * 1000000) AS BIGINT) AS um,
             CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) OVER (
               PARTITION BY user_id, date_trunc('month', ts)
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_after
      FROM events
    ),
    alloc AS (
      SELECT user_id, month, um,
             LEAST(cum_after, 1500000000) - LEAST(cum_after - um, 1500000000)
               AS t1,
             LEAST(cum_after, 3500000000) - LEAST(cum_after - um, 3500000000)
               - (LEAST(cum_after, 1500000000)
                  - LEAST(cum_after - um, 1500000000)) AS t2,
             GREATEST(cum_after - 3500000000, 0)
               - GREATEST(cum_after - um - 3500000000, 0) AS t3
      FROM m
    )
    SELECT user_id, month, COUNT(*) AS n_events,
           ROUND(CAST(SUM(um) AS BIGINT) / 1000000.0, 6) AS total_units,
           ROUND(CAST(SUM(t1) AS BIGINT) / 1000000.0, 6) AS t1_units,
           ROUND(CAST(SUM(t2) AS BIGINT) / 1000000.0, 6) AS t2_units,
           ROUND(CAST(SUM(t3) AS BIGINT) / 1000000.0, 6) AS t3_units,
           ROUND(CAST(SUM(t1 * 2 + t2 * 3 + t3 * 5) AS BIGINT) / 1000000.0, 6)
             AS billed
    FROM alloc GROUP BY user_id, month
    """,
    tier="T2",
    survey="K-ext,E3,D1,H4,H5",
)
def k40_tiered_billing(spark, sf_dir):
    """Progressive block (tiered) billing — the other half of utility
    rating that k27's rate-switch as-of join does not cover: each event's
    units split across cumulative monthly tiers (first 1500 @ 2, next
    2000 @ 3, above 3500 @ 5) by clamping the per-user running total at
    the tier boundaries. Everything is integer micros — the running sum,
    the clamp arithmetic, and the per-tier rollups are exact longs, so
    both engines agree bit-for-bit regardless of partitioning. One
    window (user_id+month partition, ts order) and one grouped rollup
    sharing the same key: a single shuffle at any scale."""
    from pyspark.sql import Window

    b1 = 1_500_000_000  # 1500 units in micros
    b2 = 3_500_000_000
    ev = T(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("month", F.col("ts")).cast("timestamp_ntz").alias("month"),
        "ts",
        "event_id",
        qlong(F.col("value"), 1_000_000).alias("um"),
    )
    w = (
        Window.partitionBy("user_id", "month")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m = ev.withColumn("cum_after", F.sum("um").over(w))
    cb = F.col("cum_after") - F.col("um")
    t1 = F.least(F.col("cum_after"), F.lit(b1)) - F.least(cb, F.lit(b1))
    t2 = (
        F.least(F.col("cum_after"), F.lit(b2))
        - F.least(cb, F.lit(b2))
        - t1
    )
    t3 = F.greatest(F.col("cum_after") - b2, F.lit(0)) - F.greatest(
        cb - b2, F.lit(0)
    )
    alloc = m.select(
        "user_id", "month", "um",
        t1.alias("t1"), t2.alias("t2"), t3.alias("t3"),
    )
    return alloc.groupBy("user_id", "month").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("um") / F.lit(1e6), 6).alias("total_units"),
        F.round(F.sum("t1") / F.lit(1e6), 6).alias("t1_units"),
        F.round(F.sum("t2") / F.lit(1e6), 6).alias("t2_units"),
        F.round(F.sum("t3") / F.lit(1e6), 6).alias("t3_units"),
        F.round(
            F.sum(F.col("t1") * 2 + F.col("t2") * 3 + F.col("t3") * 5)
            / F.lit(1e6),
            6,
        ).alias("billed"),
    )


@query(
    "k41_changepoint_balance",
    sql="""
    WITH temps AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(ROUND(value * 1000000) AS BIGINT) AS vm,
             ROUND(((ascii(substring(md5(CAST(CAST(date_trunc('day', ts) AS DATE)
                                              AS VARCHAR)), 1, 1)) * 256
                     + ascii(substring(md5(CAST(CAST(date_trunc('day', ts) AS DATE)
                                                AS VARCHAR)), 2, 1))) % 3500)
                   / 100.0 - 5.0, 2) AS temp
      FROM events
    ), daily AS (
      SELECT user_id, day, temp,
             CAST(ROUND(CAST(SUM(vm) AS BIGINT) / 1000.0) AS BIGINT) AS ym
      FROM temps GROUP BY user_id, day, temp
    ), dh AS (
      SELECT user_id, c.bp,
             CAST(ROUND(ROUND(GREATEST(0.0, ROUND(c.bp - temp, 2)), 2) * 100)
                  AS BIGINT) AS xf,
             ym AS yf
      FROM daily CROSS JOIN (VALUES (14), (15), (16), (17), (18), (19),
                                    (20), (21), (22)) AS c(bp)
    ), s AS (
      SELECT user_id, bp, COUNT(*) AS n,
             CAST(SUM(xf) AS BIGINT) AS sx,
             CAST(SUM(yf) AS BIGINT) AS sy,
             CAST(SUM(xf * yf) AS BIGINT) AS sxy,
             CAST(SUM(xf * xf) AS BIGINT) AS sxx,
             CAST(SUM(yf * yf) AS BIGINT) AS syy
      FROM dh GROUP BY user_id, bp
    ), scored AS (
      SELECT user_id, bp, n,
             n * sxy - sx * sy AS a,
             n * sxx - sx * sx AS det,
             n * syy - sy * sy AS nsyy,
             sx, sy,
             CAST(n * sxy - sx * sy AS DOUBLE)
               * CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS d
      FROM s WHERE n * sxx - sx * sx != 0
    ), best AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                ORDER BY d DESC, bp ASC) AS rn
      FROM scored
    )
    SELECT user_id, bp AS balance_point, n,
           ROUND((a / det) * 0.1, 6) AS slope,
           ROUND(sy / n / 1000.0
                 - ((a / det) * 0.1) * (sx / n / 100.0), 6) AS intercept,
           CASE WHEN nsyy != 0 THEN ROUND(d / CAST(nsyy AS DOUBLE), 6)
           END AS rsq
    FROM best WHERE rn = 1
    """,
    tier="T2",
    survey="K9,D3,E1,D1",
)
def k41_changepoint_balance(spark, sf_dir):
    """CalTRACK-style change-point weather model (operators/timeseries.
    changepoint_balance_fit): instead of k33's fixed 18 °C base, each
    meter grid-searches its heating balance point over 14–22 °C and
    keeps the SSE-minimizing fit (exact integer sufficient statistics;
    the SSE comparison reduces to one fixed-association double per
    candidate, tie-broken on the lower base). The 9-candidate fan-out
    happens map-side before the single stats aggregation — the shuffle
    carries 9 six-long rows per meter; a window over those 9 rows picks
    the winner."""
    from oeem_etl_spark.operators.timeseries import (
        changepoint_balance_fit,
        synthetic_daily_temperature,
    )

    ev = T(spark, sf_dir, "events")
    daily = resample_interval(
        ev, keys=["user_id"], ts="ts", freq="day", aggs=[dsum("value", "y")]
    )
    return changepoint_balance_fit(
        daily,
        keys=["user_id"],
        temp=synthetic_daily_temperature(F.col("bucket")),
        y=F.col("y"),
        candidates=range(14, 23),
        y_scale=3,
    )


@query(
    "k11b_sessionize_native",
    sql="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(min(epoch_us(ts)) AS BIGINT) AS session_start_us,
           CAST(max(epoch_us(ts)) + 1800000000 AS BIGINT) AS session_end_us
    FROM (
      SELECT user_id, ts,
             CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM (
        SELECT user_id, ts,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap_us
        FROM events
      )
    ) GROUP BY user_id, session_id
    """,
    tier="T2",
    survey="K-ext,I3,D1,H4",
)
def k11b_sessionize_native(spark, sf_dir):
    """Engine-NATIVE batch sessionization: ``F.session_window`` in a
    plain groupBy (the same merging machinery Structured Streaming's I3
    uses, run as a batch aggregate) — verified equivalent to the
    gaps-and-islands formulation (k11) by sharing its oracle: session
    start = min ts, end = max ts + gap, identical boundary rule (an
    event arriving EXACTLY 30:00 after the previous one stays in the
    SAME session in both: the oracle's strict `gap_us > threshold` does
    not open a new session, and session_window merges an event landing
    on the previous window's end — verified empirically on Spark). One
    shuffle on user_id; the session merge is aggregate-internal, no
    window scan over the whole partition."""
    ev = T(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            "n_events",
            F.unix_micros("session_window.start").alias("session_start_us"),
            F.unix_micros("session_window.end").alias("session_end_us"),
        )
    )


@query(
    "k42_avoided_energy",
    sql="""
    WITH temps AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(ROUND(value * 1000000) AS BIGINT) AS vm,
             ROUND(((ascii(substring(md5(CAST(CAST(date_trunc('day', ts) AS DATE)
                                              AS VARCHAR)), 1, 1)) * 256
                     + ascii(substring(md5(CAST(CAST(date_trunc('day', ts) AS DATE)
                                                AS VARCHAR)), 2, 1))) % 3500)
                   / 100.0 - 5.0, 2) AS temp
      FROM events
    ), daily AS (
      SELECT user_id, day,
             CAST(ROUND(GREATEST(0.0, ROUND(18.0 - temp, 2)) * 100) AS BIGINT)
               AS xf,
             CAST(SUM(vm) AS BIGINT) AS ym
      FROM temps GROUP BY user_id, day, temp
    ), fit AS (
      SELECT user_id, COUNT(*) AS n_base_days,
             ROUND(((COUNT(*) * CAST(SUM(xf * ym) AS BIGINT)
                     - CAST(SUM(xf) AS BIGINT) * CAST(SUM(ym) AS BIGINT))
                    / (COUNT(*) * CAST(SUM(xf * xf) AS BIGINT)
                       - CAST(SUM(xf) AS BIGINT) * CAST(SUM(xf) AS BIGINT)))
                   * 0.0001, 6) AS slope,
             ROUND(CAST(SUM(ym) AS BIGINT) / COUNT(*) / 1000000.0
                   - (((COUNT(*) * CAST(SUM(xf * ym) AS BIGINT)
                        - CAST(SUM(xf) AS BIGINT) * CAST(SUM(ym) AS BIGINT))
                       / (COUNT(*) * CAST(SUM(xf * xf) AS BIGINT)
                          - CAST(SUM(xf) AS BIGINT) * CAST(SUM(xf) AS BIGINT)))
                      * 0.0001)
                     * (CAST(SUM(xf) AS BIGINT) / COUNT(*) / 100.0), 6)
               AS intercept
      FROM daily WHERE day < TIMESTAMP '2024-01-15'
      GROUP BY user_id
      HAVING COUNT(*) * CAST(SUM(xf * xf) AS BIGINT)
             - CAST(SUM(xf) AS BIGINT) * CAST(SUM(xf) AS BIGINT) != 0
    ), rep AS (
      SELECT d.user_id, d.day,
             CAST(ROUND((f.intercept + f.slope * (d.xf / 100.0)) * 1000000)
                  AS BIGINT) AS pm,
             d.ym
      FROM daily d JOIN fit f USING (user_id)
      WHERE d.day >= TIMESTAMP '2024-01-15'
    )
    SELECT r.user_id, f.n_base_days, COUNT(*) AS n_rep_days,
           ROUND(CAST(SUM(r.ym) AS BIGINT) / 1000000.0, 6) AS actual,
           ROUND(CAST(SUM(r.pm) AS BIGINT) / 1000000.0, 6) AS predicted,
           ROUND(CAST(SUM(r.pm - r.ym) AS BIGINT) / 1000000.0, 6) AS avoided
    FROM rep r JOIN fit f USING (user_id)
    GROUP BY r.user_id, f.n_base_days
    """,
    tier="T2",
    survey="K9,K-ext,D3,C1,D1",
)
def k42_avoided_energy(spark, sf_dir):
    """The OEEM deliverable end to end: fit each meter's weather model on
    the BASELINE period (daily usage vs HDD, exact-fixed-point OLS),
    predict counterfactual usage through the REPORTING period, and report
    avoided energy = predicted − actual. Per-day predictions are
    quantized to integer micros before the rollup so the savings number
    is partition-order-independent; the per-meter fit frame (one row per
    meter) broadcasts into the reporting join. The oracle replays the
    whole chain — fit arithmetic association-order-identical to
    operators/timeseries.per_key_ols."""
    from oeem_etl_spark.operators.timeseries import (
        per_key_ols,
        synthetic_daily_temperature,
    )

    cutoff = F.lit("2024-01-15").cast("timestamp")
    ev = T(spark, sf_dir, "events")
    daily = resample_interval(
        ev, keys=["user_id"], ts="ts", freq="day", aggs=[dsum("value", "y")]
    )
    temp = synthetic_daily_temperature(F.col("bucket"))
    hdd = F.round(F.greatest(F.lit(0.0), F.round(F.lit(18.0) - temp, 2)), 2)
    daily = daily.withColumn("hdd", hdd)
    base = daily.where(F.col("bucket") < cutoff)
    fit = per_key_ols(
        base, keys=["user_id"], x=F.col("hdd"), y=F.col("y"),
        x_scale=2, y_scale=6,
    ).where(F.col("slope").isNotNull()).select(
        "user_id", F.col("n").alias("n_base_days"), "slope", "intercept"
    )
    rep = daily.where(F.col("bucket") >= cutoff).join(
        F.broadcast(fit), "user_id"
    )
    pm = qlong(F.col("intercept") + F.col("slope") * F.col("hdd"), 1_000_000)
    ym = qlong(F.col("y"), 1_000_000)
    return (
        rep.select("user_id", "n_base_days", pm.alias("pm"), ym.alias("ym"))
        .groupBy("user_id", "n_base_days")
        .agg(
            F.count(F.lit(1)).alias("n_rep_days"),
            F.round(F.sum("ym") / F.lit(1e6), 6).alias("actual"),
            F.round(F.sum("pm") / F.lit(1e6), 6).alias("predicted"),
            F.round(F.sum(F.col("pm") - F.col("ym")) / F.lit(1e6), 6).alias(
                "avoided"
            ),
        )
    )


@query(
    "k43_expanding_cv_folds",
    sql="""
    WITH d AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT) AS ym
      FROM events GROUP BY 1, 2
    ), folds AS (
      SELECT * FROM (VALUES
        (1, TIMESTAMP '2024-01-10'), (2, TIMESTAMP '2024-01-15'),
        (3, TIMESTAMP '2024-01-20')) AS f(fold, cutoff)
    )
    SELECT f.fold, d.user_id,
           COUNT(CASE WHEN d.day < f.cutoff THEN 1 END) AS n_train_days,
           COUNT(CASE WHEN d.day >= f.cutoff
                       AND d.day < f.cutoff + INTERVAL 5 DAY THEN 1 END)
             AS n_val_days,
           ROUND(CAST(SUM(CASE WHEN d.day < f.cutoff THEN d.ym END)
                 AS BIGINT) / 1000000.0, 6) AS train_total,
           ROUND(CAST(SUM(CASE WHEN d.day >= f.cutoff
                       AND d.day < f.cutoff + INTERVAL 5 DAY THEN d.ym END)
                 AS BIGINT) / 1000000.0, 6) AS val_total
    FROM d CROSS JOIN folds f
    GROUP BY f.fold, d.user_id
    """,
    tier="T2",
    survey="K-ext,B4,D1,C5",
)
def k43_expanding_cv_folds(spark, sf_dir):
    """Expanding-window time-series cross-validation folds — the
    leakage-safe model-selection split for meter models (each fold
    trains strictly BEFORE its cutoff, validates on the next 5 days;
    never a random shuffle, which leaks seasonality). The 3-row fold
    table broadcasts into the daily rollup and the fold×meter summary
    is one conditional aggregation — no per-fold scans."""
    cutoffs = [(1, "2024-01-10"), (2, "2024-01-15"), (3, "2024-01-20")]
    ev = T(spark, sf_dir, "events")
    d = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(qlong(F.col("value"), 1_000_000)).alias("ym"))
    folds = local_frame(spark, cutoffs, "fold int, cutoff_s string").select(
        "fold", F.col("cutoff_s").cast("timestamp").alias("cutoff")
    )
    j = d.crossJoin(F.broadcast(folds))
    in_train = F.col("day") < F.col("cutoff")
    in_val = (F.col("day") >= F.col("cutoff")) & (
        F.col("day") < F.col("cutoff") + F.expr("INTERVAL 5 DAY")
    )
    return j.groupBy("fold", "user_id").agg(
        F.count(F.when(in_train, 1)).alias("n_train_days"),
        F.count(F.when(in_val, 1)).alias("n_val_days"),
        F.round(F.sum(F.when(in_train, F.col("ym"))) / F.lit(1e6), 6).alias(
            "train_total"
        ),
        F.round(F.sum(F.when(in_val, F.col("ym"))) / F.lit(1e6), 6).alias(
            "val_total"
        ),
    )


@query(
    "k11c_sessionize_dynamic_gap",
    sql="""
    WITH base AS (
      SELECT user_id, epoch_us(ts) AS tu,
             CASE WHEN event_type = 'error' THEN 600000000
                  ELSE 1800000000 END AS gap_us
      FROM events
    ),
    marked AS (
      SELECT user_id, tu, gap_us,
             MAX(tu + gap_us) OVER (PARTITION BY user_id ORDER BY tu
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      FROM base
    ),
    isl AS (
      SELECT user_id, tu, gap_us,
             CAST(SUM(CASE WHEN pmax IS NULL OR tu > pmax THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY tu
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS sid
      FROM marked
    )
    SELECT user_id, COUNT(*) AS n_events,
           CAST(MIN(tu) AS BIGINT) AS session_start_us,
           CAST(MAX(tu + gap_us) AS BIGINT) AS session_end_us
    FROM isl GROUP BY user_id, sid
    """,
    tier="T2",
    survey="K-ext,I3,D1,H4,B4",
)
def k11c_sessionize_dynamic_gap(spark, sf_dir):
    """DYNAMIC-gap sessionization: ``F.session_window`` with a per-event
    gap expression (error events extend their session only 10 minutes,
    everything else 30) — the API k11b's static form can't reach, same
    aggregate-internal merge machinery. The oracle is the
    interval-union form: a session ends when the next event's start
    exceeds the running max of (event time + ITS OWN gap); session end
    is that running max (merging [0,30) with [1,11) ends at 30 — max,
    not last-event-plus-gap). Boundary rule shared with k11b: an event
    landing exactly on the window end merges (strict >)."""
    ev = T(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "error", F.lit("10 minutes")).otherwise(
        F.lit("30 minutes")
    )
    return (
        ev.groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            "n_events",
            F.unix_micros("session_window.start").alias("session_start_us"),
            F.unix_micros("session_window.end").alias("session_end_us"),
        )
    )


@query(
    "k44_psi_drift",
    # Population Stability Index between the reference (even event_id) and
    # incoming (odd event_id) value distributions over 10 fixed-width bins:
    # PSI = Σ (p_i − q_i)·ln(p_i / q_i), Laplace-smoothed (+1 per bin) so
    # empty bins stay finite. The monitoring twin of l53's unigram KL —
    # PSI is what production model-monitoring dashboards actually report
    # (PSI > 0.2 = significant shift). Integer-exact bin counts; the final
    # fractions/logs are identical double arithmetic in both engines.
    sql="""
    WITH binned AS (
      SELECT CAST(least(greatest(floor(value / 10.0), 0), 9) AS BIGINT) AS bin,
             event_id % 2 = 0 AS ref
      FROM events WHERE value IS NOT NULL
    ),
    bins AS (SELECT unnest(generate_series(0, 9)) AS bin),
    counts AS (
      SELECT bins.bin,
             COALESCE(SUM(CASE WHEN ref THEN 1 ELSE 0 END), 0) + 1 AS nref,
             COALESCE(SUM(CASE WHEN NOT ref THEN 1 ELSE 0 END), 0) + 1 AS ninc
      FROM bins LEFT JOIN binned ON bins.bin = binned.bin
      GROUP BY bins.bin
    ),
    tot AS (
      SELECT CAST(SUM(nref) AS BIGINT) AS tref,
             CAST(SUM(ninc) AS BIGINT) AS tinc
      FROM counts
    ),
    terms AS (
      SELECT bin, nref, ninc,
             CAST(ROUND((nref * 1.0 / tref - ninc * 1.0 / tinc)
                        * ln((nref * 1.0 / tref) / (ninc * 1.0 / tinc))
                        * 1000000) AS BIGINT) AS term_micros
      FROM counts, tot
    )
    SELECT CAST(bin AS BIGINT) AS bin, CAST(nref AS BIGINT) AS nref,
           CAST(ninc AS BIGINT) AS ninc,
           ROUND(term_micros / 1000000.0, 6) AS psi_term,
           ROUND(CAST(SUM(term_micros) OVER () AS BIGINT) / 1000000.0, 6)
             AS psi_total
    FROM terms ORDER BY bin
    """,
    tier="T2",
    survey="K9,D1,B4,H5",
)
def k44_psi_drift(spark, sf_dir):
    """Population Stability Index drift monitor between the reference and
    incoming halves of the event stream, 10 fixed-width value bins with
    Laplace smoothing — the standard production monitoring metric (PSI >
    0.2 flags a shift). Bin counts are one conditional hash agg; the
    10-row bin frame comes from a broadcast range, so missing bins
    surface with their smoothed prior instead of vanishing. Per-bin
    terms micros-quantized; psi_total is their exact integer sum."""
    ev = T(spark, sf_dir, "events").where(F.col("value").isNotNull())
    binned = ev.select(
        F.least(
            F.greatest(F.floor(F.col("value") / 10.0), F.lit(0)), F.lit(9)
        )
        .cast("long")
        .alias("bin"),
        (F.col("event_id") % 2 == 0).alias("ref"),
    )
    bins = F.broadcast(
        ev.sparkSession.range(0, 10).select(F.col("id").alias("bin"))
    )
    counts = (
        bins.join(binned, "bin", "left")
        .groupBy("bin")
        .agg(
            (
                F.coalesce(
                    F.sum(F.when(F.col("ref"), 1).otherwise(0)), F.lit(0)
                )
                + 1
            ).alias("nref"),
            (
                F.coalesce(
                    F.sum(F.when(~F.col("ref"), 1).otherwise(0)), F.lit(0)
                )
                + 1
            ).alias("ninc"),
        )
    )
    tot = counts.agg(
        F.sum("nref").alias("tref"), F.sum("ninc").alias("tinc")
    )
    p = F.col("nref") * 1.0 / F.col("tref")
    q = F.col("ninc") * 1.0 / F.col("tinc")
    term = qlong((p - q) * F.log(p / q), 1_000_000)
    from pyspark.sql import Window

    terms = counts.crossJoin(F.broadcast(tot)).select(
        "bin", "nref", "ninc", term.alias("term_micros")
    )
    return terms.select(
        F.col("bin").cast("long").alias("bin"),
        F.col("nref").cast("long").alias("nref"),
        F.col("ninc").cast("long").alias("ninc"),
        F.round(F.col("term_micros") / 1_000_000.0, 6).alias("psi_term"),
        F.round(
            (F.sum("term_micros").over(Window.partitionBy()) / 1_000_000.0),
            6,
        ).alias("psi_total"),
    ).orderBy("bin")
