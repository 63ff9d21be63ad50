"""Time-series / interval ETL operators (SURVEY.md §2.K).

The reference's core domain job: irregular interval meter reads →
calendarized, gap-filled, deduplicated series (SURVEY.md §2.K [PK-high]).
Re-expressed as DataFrame compositions: each operator is one or two
shuffles, no UDFs, and works identically on batch and (where marked)
streaming inputs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from oeem_etl_spark.functions.fixedpoint import qlong

_FREQ_INTERVAL = {
    "hour": "INTERVAL 1 HOUR",
    "day": "INTERVAL 1 DAY",
    "week": "INTERVAL 7 DAY",
    "month": None,  # months are irregular; use add_months on the grid
}


def resample_interval(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    freq: str,
    aggs: Sequence[Column],
) -> DataFrame:
    """Bucket irregular records into a fixed frequency per key (K3).

    ``date_trunc`` keeps the bucket computation JVM-side and lets the
    single hash-aggregate do partial (map-side) combining — at 100 TB the
    shuffle carries only one row per (key, bucket), not the raw reads.
    Streaming-safe: substitute ``F.window`` when a watermark is attached.
    """
    bucket = F.date_trunc(freq, F.col(ts)).alias("bucket")
    return df.groupBy(*[F.col(k) for k in keys], bucket).agg(*aggs)


def fill_gaps(
    df: DataFrame,
    keys: Sequence[str],
    bucket: str,
    value: str,
    freq: str = "day",
    forward_fill: bool = True,
) -> DataFrame:
    """Materialize missing buckets per key between each key's min and max,
    optionally forward-filling the value (K4).

    The dense grid is generated with ``sequence()`` + ``explode`` from one
    (min, max) row per key — the expensive part is one groupBy over the
    input and one re-join; grid cardinality is bounded by time span, not
    input rows, so this scales independently of read volume.
    """
    interval = _FREQ_INTERVAL[freq]
    span = df.groupBy(*keys).agg(
        F.min(bucket).alias("__min_b"), F.max(bucket).alias("__max_b")
    )
    if interval is not None:
        grid = span.select(
            *keys,
            F.explode(F.expr(f"sequence(__min_b, __max_b, {interval})")).alias(bucket),
        )
    else:  # month: irregular length — explode a month-offset index, add_months
        assert freq == "month", freq
        n_months = F.expr("months_between(__max_b, __min_b)").cast("int")
        grid = span.select(
            *keys,
            F.col("__min_b"),
            F.explode(F.sequence(F.lit(0), n_months)).alias("__m"),
        ).select(
            *keys,
            # add_months yields DATE; cast back so bucket keeps its type
            F.add_months(F.col("__min_b"), F.col("__m"))
            .cast("timestamp")
            .alias(bucket),
        )
    joined = grid.join(df, [*keys, bucket], "left")
    if not forward_fill:
        return joined
    w = (
        Window.partitionBy(*keys)
        .orderBy(bucket)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.withColumn(value, F.last(value, ignorenulls=True).over(w))


def interpolate_gaps(
    df: DataFrame,
    keys: Sequence[str],
    bucket: str,
    value: str,
    freq: str = "day",
    scale: int = 6,
) -> DataFrame:
    """Dense grid per key with LINEAR interpolation across gaps (K4's
    analytic sibling — forward-fill holds the last reading flat, which
    misstates consumption for cumulative meters; interpolation allocates
    the change proportionally across the missing buckets, the standard
    meter-read estimation rule).

    Exactness: values are quantized to ``scale`` decimals (integer
    fixed-point longs); the interpolated value is
    ``prev + trunc((next - prev) · i / n)`` in pure integer arithmetic
    (``x - x % n`` is divisible by ``n``, so the division is exact and
    the whole computation is bit-identical across engines and partition
    orders — same trick as :func:`calendarize`). Grid endpoints are
    observed rows (the grid spans each key's min..max observed bucket),
    so interior gaps always have both neighbors; the uniform formula
    degrades to the observed value itself on non-gap rows (i = 0).

    Scale shape: one groupBy for the span, one left join onto the grid,
    two window passes per key — identical shuffle profile to
    :func:`fill_gaps`; no UDFs, no driver-side state.
    """
    step_s = {"minute": 60, "hour": 3600, "day": 86400, "week": 604800}[freq]
    dense = fill_gaps(df, keys, bucket, value, freq=freq, forward_fill=False)
    m = 10**scale
    dense = dense.withColumn(
        "__v_fp", qlong(F.col(value), m)
    )
    wb = (
        Window.partitionBy(*keys)
        .orderBy(bucket)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(*keys)
        .orderBy(bucket)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_b = F.when(F.col("__v_fp").isNotNull(), F.col(bucket))
    out = (
        dense.withColumn("__pv", F.last("__v_fp", ignorenulls=True).over(wb))
        .withColumn("__pb", F.last(obs_b, ignorenulls=True).over(wb))
        .withColumn("__nv", F.first("__v_fp", ignorenulls=True).over(wf))
        .withColumn("__nb", F.first(obs_b, ignorenulls=True).over(wf))
    )
    ts_s = lambda c: F.unix_timestamp(F.col(c).cast("timestamp"))  # noqa: E731
    i = ((ts_s(bucket) - ts_s("__pb")) / step_s).cast("long")
    n = ((ts_s("__nb") - ts_s("__pb")) / step_s).cast("long")
    numer = (F.col("__nv") - F.col("__pv")) * i
    # trunc-toward-zero division, exact: numer - numer % n is divisible by n
    interp_fp = F.when(F.col("__v_fp").isNotNull(), F.col("__v_fp")).otherwise(
        F.when(F.col("__pv").isNull(), F.col("__nv"))
        .when(F.col("__nv").isNull(), F.col("__pv"))
        .otherwise(
            F.col("__pv") + ((numer - numer % n) / n).cast("long")
        )
    )
    return (
        out.withColumn(value, F.round(interp_fp / F.lit(float(m)), scale))
        .withColumn("was_gap", F.col("__v_fp").isNull())
        .drop("__v_fp", "__pv", "__pb", "__nv", "__nb")
    )


def sessionize(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    gap_minutes: int,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Gaps-and-islands sessionization (batch twin of §2.I3 session_window):
    a new session starts when the gap from the previous event exceeds the
    threshold. Returns the input plus a ``session_id`` (per-key ordinal).

    Same shuffle shape as streaming ``session_window`` state: partition by
    key, order by time, two window passes (lag + running sum).

    ``tiebreak``: extra order columns after ``ts``. Session MEMBERSHIP is
    tie-insensitive (equal timestamps always share a session — their gap
    is 0), but downstream per-session orderings (e.g. path strings) need
    a total order; pass a unique column when the data can carry duplicate
    timestamps per key.
    """
    w = Window.partitionBy(*keys).orderBy(ts, *tiebreak)
    gap_us = gap_minutes * 60_000_000
    # cast tolerates TIMESTAMP_NTZ inputs (unix_micros requires TIMESTAMP;
    # no-op on TIMESTAMP; session tz pinned UTC makes NTZ→LTZ exact)
    ts_us = F.unix_micros(F.col(ts).cast("timestamp"))
    is_new = ((ts_us - F.lag(ts_us).over(w)) > gap_us).cast("int")
    return df.withColumn(
        "session_id",
        F.sum(F.coalesce(is_new, F.lit(1))).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def standardize_schema(
    df: DataFrame,
    mapping: dict[str, tuple[str, str | None]],
) -> DataFrame:
    """Rename/cast/reorder raw columns to a canonical schema (K1 — the
    reference parser's core move). ``mapping``: canonical_name ->
    (source_column, cast_type|None). Output column order follows mapping
    order."""
    cols = []
    for canon, (src, typ) in mapping.items():
        c = F.col(src)
        if typ is not None:
            c = c.cast(typ)
        cols.append(c.alias(canon))
    return df.select(*cols)


def seasonal_baseline(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    value: str,
) -> DataFrame:
    """Seasonal usage profile + deviation (K-ext): each row gets the mean
    of its key's (day-of-week, hour-of-day) cell as ``expected`` and the
    difference as ``deviation`` — the calendarized baseline at the heart
    of energy-savings computation (eemeter's modeled-baseline idea reduced
    to its groupable core).

    Window-free: one aggregate over (keys, dow, hour) then a re-join —
    both sides shuffle on the same compound key, and the profile side is
    one row per key-cell (≤ keys×168), so the join is broadcastable per
    key at any corpus scale. The mean uses integer-micros accumulation so
    results are engine-exact.
    """
    dow = F.dayofweek(F.col(ts))
    hod = F.hour(F.col(ts))
    micros = qlong(F.col(value), 1_000_000)
    cells = (
        df.select(*keys, dow.alias("__dow"), hod.alias("__hod"), micros.alias("__m"))
        .groupBy(*keys, "__dow", "__hod")
        .agg(
            (F.sum("__m") / F.count("__m") / F.lit(1_000_000.0)).alias("__expected")
        )
    )
    out = df.withColumn("__dow", dow).withColumn("__hod", hod).join(
        cells, [*keys, "__dow", "__hod"]
    )
    return (
        out.withColumn("expected", F.round("__expected", 6))
        .withColumn("deviation", F.round(F.col(value) - F.col("__expected"), 6))
        .drop("__dow", "__hod", "__expected")
    )


def gap_report(
    df: DataFrame,
    keys: Sequence[str],
    bucket: str,
    freq: str = "hour",
) -> DataFrame:
    """Contiguous-gap inventory (K-ext): for each key, the maximal runs of
    MISSING buckets between observed ones — (keys..., gap_start, gap_end,
    n_missing), where the gap covers (prev bucket, next bucket) exclusive.

    The fill_gaps complement: instead of materializing the dense grid
    (unbounded for sparse meters), this reports only the gap intervals —
    one lag window per key over observed buckets, output cardinality =
    number of gaps, not missing cells.
    """
    step_s = {"hour": 3600, "day": 86400, "minute": 60}[freq]
    w = Window.partitionBy(*keys).orderBy(bucket)
    prev = F.lag(F.col(bucket)).over(w)
    missing = ((F.unix_timestamp(F.col(bucket)) - F.unix_timestamp(prev)) / step_s - 1)
    return (
        df.select(*keys, F.col(bucket))
        .distinct()
        .withColumn("__prev", prev)
        .withColumn("__n_missing", missing.cast("long"))
        .where(F.col("__n_missing") > 0)
        .select(
            *keys,
            (F.col("__prev") + F.expr(f"INTERVAL {step_s} SECONDS")).alias("gap_start"),
            (F.col(bucket) - F.expr(f"INTERVAL {step_s} SECONDS")).alias("gap_end"),
            F.col("__n_missing").alias("n_missing"),
        )
    )


def rolling_zscore_anomalies(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    value: str,
    window_rows: int = 24,
    threshold: float = 3.0,
    tiebreak: str | None = None,
) -> DataFrame:
    """Rolling z-score anomaly flags (K-ext): each reading is compared to
    the mean/stddev of the preceding ``window_rows`` readings of its key;
    rows with |z| > threshold (and a defined stddev) are returned.

    One window per key ordered by time — state is the frame, no UDF.
    Emits ``roll_mean``, ``roll_std``, ``zscore`` rounded to 6dp for
    cross-engine comparability (stddev accumulation is numerically stable
    in both engines at fixture magnitudes; SURVEY §7.4 #1 applies to sums,
    not variance, so rounding is the guard here).
    """
    order = [F.col(ts).asc()] + ([F.col(tiebreak).asc()] if tiebreak else [])
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(-window_rows, -1)
    )
    roll_mean = F.avg(value).over(w)
    roll_std = F.stddev_samp(value).over(w)
    z = (F.col(value) - roll_mean) / roll_std
    return (
        df.withColumn("roll_mean", F.round(roll_mean, 6))
        .withColumn("roll_std", F.round(roll_std, 6))
        .withColumn("zscore", F.round(z, 6))
        .where(F.col("roll_std").isNotNull() & (F.col("roll_std") > 0))
        .where(F.abs(F.col("zscore")) > threshold)
    )


def synthetic_daily_temperature(day_col: Column) -> Column:
    """Deterministic pseudo-weather: md5-derived daily temperature in
    [-5, 30) °C from the date string — integer arithmetic only, so any
    engine reproduces it bit-for-bit (no trig, no RNG; stands in for a
    real weather join until a station feed exists — the join shape is the
    real deliverable, per the multimodal-stub convention)."""
    h = F.md5(day_col.cast("date").cast("string"))
    hi = F.ascii(F.substring(h, 1, 1))
    lo = F.ascii(F.substring(h, 2, 1))
    bucket = F.pmod(hi * 256 + lo, F.lit(3500))  # [0, 3500)
    return F.round(bucket / 100.0 - 5.0, 2)  # [-5.00, 30.00)


def degree_day_normalize(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    value: str,
    base_temp: float = 18.0,
) -> DataFrame:
    """Degree-day-normalized usage intensity per key-month (K-ext): join
    each reading's day to (synthetic) daily temperature, derive heating /
    cooling degree days, and aggregate usage per HDD/CDD — the eemeter-
    style weather normalization reduced to its relational core.

    Output: (keys..., month, usage_total, hdd_total, cdd_total,
    usage_per_hdd, usage_per_cdd) with micros-exact sums; per-degree-day
    intensities NULL when the month has no degree days of that kind.
    """
    day = F.date_trunc("day", F.col(ts))
    temp = synthetic_daily_temperature(day)
    hdd = F.greatest(F.lit(0.0), F.round(F.lit(base_temp) - temp, 2))
    cdd = F.greatest(F.lit(0.0), F.round(temp - F.lit(base_temp), 2))
    vm = qlong(F.col(value), 1_000_000)
    hm = qlong(hdd, 1_000_000)
    cm = qlong(cdd, 1_000_000)
    per = (
        df.select(
            *keys,
            F.date_trunc("month", F.col(ts)).alias("month"),
            vm.alias("__vm"),
            hm.alias("__hm"),
            cm.alias("__cm"),
        )
        .groupBy(*keys, "month")
        .agg(
            F.sum("__vm").alias("__v"), F.sum("__hm").alias("__h"), F.sum("__cm").alias("__c")
        )
    )
    return per.select(
        *keys,
        "month",
        F.round(F.col("__v") / 1_000_000.0, 6).alias("usage_total"),
        F.round(F.col("__h") / 1_000_000.0, 6).alias("hdd_total"),
        F.round(F.col("__c") / 1_000_000.0, 6).alias("cdd_total"),
        F.when(F.col("__h") > 0, F.round(F.col("__v") / F.col("__h"), 6)).alias(
            "usage_per_hdd"
        ),
        F.when(F.col("__c") > 0, F.round(F.col("__v") / F.col("__c"), 6)).alias(
            "usage_per_cdd"
        ),
    )


def period_savings(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    value: str,
    cutoff: str,
) -> DataFrame:
    """Baseline-vs-reporting comparison per key (K-ext): mean usage per
    reading before the cutoff (baseline) and at-or-after it (reporting),
    plus absolute and fractional savings — the project-level output shape
    of the reference ecosystem (baseline_period_end /
    reporting_period_start semantics).

    Keys with an empty side report NULL savings rather than dropping.
    Single aggregation pass (conditional micros sums).
    """
    cut = F.lit(cutoff).cast("timestamp")
    vm = qlong(F.col(value), 1_000_000)
    is_base = F.col(ts) < cut
    agg = df.groupBy(*keys).agg(
        F.sum(F.when(is_base, vm)).alias("__bv"),
        F.count(F.when(is_base, F.lit(1))).alias("__bn"),
        F.sum(F.when(~is_base, vm)).alias("__rv"),
        F.count(F.when(~is_base, F.lit(1))).alias("__rn"),
    )
    base_avg = F.col("__bv") / F.col("__bn") / F.lit(1_000_000.0)
    rep_avg = F.col("__rv") / F.col("__rn") / F.lit(1_000_000.0)
    return agg.select(
        *keys,
        F.col("__bn").alias("n_baseline"),
        F.col("__rn").alias("n_reporting"),
        F.round(base_avg, 6).alias("baseline_avg"),
        F.round(rep_avg, 6).alias("reporting_avg"),
        F.round(base_avg - rep_avg, 6).alias("savings_abs"),
        F.when(
            (F.col("__bn") > 0) & (F.col("__rn") > 0) & (F.col("__bv") != 0),
            F.round((base_avg - rep_avg) / base_avg, 6),
        ).alias("savings_frac"),
    )


def calendarize(
    df: DataFrame,
    start: str,
    end: str,
    value_col: str,
    keys: Sequence[str],
    emit_e4: bool = False,
) -> DataFrame:
    """Calendarization (billing-period proration — the energy-ETL staple
    for aligning consumption/revenue intervals to reporting months): each
    input interval [start, end] (DATE columns, inclusive both ends) is
    split across the calendar months it overlaps, and ``value_col`` is
    allocated to each month by its day-count overlap fraction. Intervals
    must satisfy start ≤ end (the month ``sequence()`` raises on a
    negative span) — filter or ``least/greatest``-normalize upstream.

    Output: keys..., month (first day), overlap_days, total_days,
    ``{value}_alloc`` = floor(value · overlap/total) at 1e-4 granularity.
    The allocation is EXACT integer arithmetic end-to-end (value scaled
    to 1e-4 units — lossless for ≤4dp money columns — times overlap
    days, floor-divided by total days), so results are bit-identical
    across engines, partitionings, and summation orders; a round() of
    the double quotient instead would flip on .00005 boundaries between
    engines. The sub-1e-4 remainder per interval stays unallocated by
    design (conservative recognition).

    Scale shape: a pure map-side generator — one ``sequence()`` explode
    per row with fan-out = months spanned (bounded by interval length),
    no join and no shuffle; downstream monthly rollups group on (month),
    a low-cardinality map-combinable key.
    """
    # Per-INPUT-row arithmetic (the value quantization, the total-day
    # span, and the date normalization of both endpoints) is hoisted
    # below the month Generate, so it runs once per interval instead of
    # once per (interval × month) output row. The hoist needs TWO
    # selects (r9): a projection list that contains the explode plans as
    # Project(other exprs) ABOVE Generate — Spark's Generate carries only
    # child ATTRIBUTES through `requiredChildOutput`, so expressions
    # sharing the explode's select list are recomputed per generated
    # row (plan-verified: the qlong CASE sat above Generate). Computing
    # them in their own projection first makes them bound attributes the
    # Generate passes through untouched. least/greatest commute with the
    # (monotone) date cast, so overlap and total are value-identical to
    # the former timestamp-space form.
    s, e = F.col(start).cast("date"), F.col(end).cast("date")
    pre = df.select(
        *[F.col(k) for k in keys],
        s.alias("__s"),
        e.alias("__e"),
        qlong(F.col(value_col), 10_000).alias("__v4"),
        (F.datediff(e, s) + 1).cast("long").alias("__total"),
    )
    month = F.explode(
        F.sequence(
            F.trunc(F.col("__s"), "month"),
            F.trunc(F.col("__e"), "month"),
            F.expr("interval 1 month"),
        )
    ).alias("month")
    base = pre.select(
        *[F.col(k) for k in keys],
        "__s",
        "__e",
        "__v4",
        "__total",
        month,
    )
    m = F.col("month")
    overlap = F.datediff(F.least(F.col("__e"), F.last_day(m)), F.greatest(F.col("__s"), m)) + 1
    total = F.col("__total")
    # exact fixed-point: (value·1e4 as long) · overlap, floor-divided by
    # total. numer - numer % total is divisible by total, so the double
    # division is exact (magnitudes < 2^53); no float rounding anywhere.
    numer = F.col("__v4") * overlap.cast("long")
    alloc_e4 = ((numer - numer % total) / total).cast("long")
    # emit_e4: expose the exact 1e-4-unit long instead of the double
    # quotient — for consumers that immediately re-quantize at scale 4
    # (k23's dsum), skipping a divide + round-trip re-round per exploded
    # row. alloc = alloc_e4/1e4 round-trips exactly (|alloc_e4| < 2^50),
    # so double-consumers lose nothing by the default.
    alloc = (
        alloc_e4.alias(f"{value_col}_alloc_e4")
        if emit_e4
        else (alloc_e4 / F.lit(10_000.0)).alias(f"{value_col}_alloc")
    )
    return base.select(
        *[F.col(k) for k in keys],
        m,
        overlap.cast("int").alias("overlap_days"),
        total.cast("int").alias("total_days"),
        alloc,
    )


def calendarize_monthly(
    df: DataFrame,
    start: str,
    end: str,
    value_col: str,
) -> DataFrame:
    """Monthly rollup of :func:`calendarize` WITHOUT the per-
    (interval × month) explode — the 100 TB shape of k23's
    ``calendarize(...).groupBy(month)`` (guide §1.2: the explode fans a
    row out ~(months spanned)× only for a downstream aggregate to fold
    it straight back; measured 8.84M generated rows from 600k intervals
    at sf0.1, with the bare Generate alone costing 65% of the query).

    The fold exploits that a month's allocation depends on the interval
    only through WHICH overlap class the month falls in:

    - the FIRST month's overlap is ``datediff(least(end, last_day(m)),
      start) + 1`` — interval-specific, contributed directly to ``ms``;
    - the LAST month's (when distinct) is ``datediff(end, me) + 1`` —
      contributed directly to ``me``;
    - every MIDDLE month's overlap is its own day count, which takes only
      the four values 28/29/30/31 — so each interval pre-computes the
      four possible middle allocations S_L = ⌊v4·L/total⌋ and emits ONE
      +diff row at ``ms+1`` and one −diff row at ``me`` (exclusive end).
      A cumulative sum over the dense month axis (a bounded ~tens-of-
      rows frame: one row per calendar month in [min ms, max me]) turns
      the diffs into per-month middle-coverage sums, and the month's own
      day count picks which S_L column applies.

    Per interval the old path generated ``months`` rows each paying the
    date arithmetic; this path emits ≤4 constant-width rows regardless
    of span. The arithmetic per class is EXPRESSION-IDENTICAL to
    :func:`calendarize` (same ⌊v4·overlap/total⌋ integer fixed-point),
    and long sums are associative, so the rollup is bit-identical to
    ``calendarize(...).groupBy(month).agg(count, sum)`` — pinned by
    tests/test_operators.py::test_calendarize_monthly_equals_explode.
    ANSI mode (pinned in session.py) keeps the long-sum overflow raise
    of the exploded form.

    Like :func:`calendarize`, intervals must satisfy start ≤ end: a row
    with start > end raises (``raise_error`` on that row) where the
    exploded form's ``sequence()`` does. A month covered only by
    NULL-valued intervals sums to NULL, as the exploded ``sum`` does.

    Output: ``month`` (first-of-month DATE), ``n_parts`` (BIGINT count
    of covering intervals = exploded rows), ``{value}_alloc_e4_sum``
    (BIGINT: Σ of the exact 1e-4-unit allocations).
    """
    s, e = F.col(start).cast("date"), F.col(end).cast("date")
    total = (F.datediff(e, s) + 1).cast("long")
    v4 = qlong(F.col(value_col), 10_000)
    # __ms feeds every contribution's month and validity, so the check
    # runs on every row whatever its value
    ms = F.when(
        s > e,
        F.raise_error(
            F.concat(
                F.lit("calendarize_monthly: interval start "), s.cast("string"),
                F.lit(" is after its end "), e.cast("string"),
            )
        ),
    ).otherwise(F.trunc(s, "month"))
    pre = df.select(
        s.alias("__s"),
        e.alias("__e"),
        ms.alias("__ms"),
        F.trunc(e, "month").alias("__me"),
        v4.alias("__v4"),
        total.alias("__total"),
    )

    def _floordiv(numer: Column, den: Column) -> Column:
        # same exact fixed-point floor-division as calendarize()
        return ((numer - numer % den) / den).cast("long")

    tot = F.col("__total")
    first_overlap = (
        F.datediff(F.least(F.col("__e"), F.last_day(F.col("__ms"))), F.col("__s")) + 1
    ).cast("long")
    last_overlap = (F.datediff(F.col("__e"), F.col("__me")) + 1).cast("long")
    single = F.col("__ms") == F.col("__me")
    has_middle = F.col("__me") >= F.add_months(F.col("__ms"), 2)
    zero = F.lit(0).cast("long")
    # 1 for a valued interval: a month none of whose covering intervals
    # has a value sums to NULL, not 0
    has_v = F.col("__v4").isNotNull().cast("long")
    s_l = {
        L: _floordiv(F.col("__v4") * F.lit(L).cast("long"), tot) for L in (28, 29, 30, 31)
    }

    def _contrib(month, d28, d29, d30, d31, dcnt, dvcnt, direct, cnt, vcnt, valid):
        return F.struct(
            month.alias("month"),
            d28.alias("d28"), d29.alias("d29"), d30.alias("d30"), d31.alias("d31"),
            dcnt.alias("dcnt"), dvcnt.alias("dvcnt"), direct.alias("direct_e4"),
            cnt.alias("direct_cnt"), vcnt.alias("direct_vcnt"), valid.alias("valid"),
        )

    neg = lambda c: F.when(has_middle, -c).otherwise(zero)  # noqa: E731
    contribs = pre.select(
        F.explode(
            F.array(
                _contrib(
                    F.col("__ms"), zero, zero, zero, zero, zero, zero,
                    _floordiv(F.col("__v4") * first_overlap, tot), F.lit(1).cast("long"),
                    has_v, F.lit(True),
                ),
                # the last month's direct contribution and the middle
                # run's −diff both land on __me — one merged row
                _contrib(
                    F.col("__me"),
                    neg(s_l[28]), neg(s_l[29]), neg(s_l[30]), neg(s_l[31]),
                    F.when(has_middle, F.lit(-1).cast("long")).otherwise(zero),
                    neg(has_v),
                    _floordiv(F.col("__v4") * last_overlap, tot), F.lit(1).cast("long"),
                    has_v, ~single,
                ),
                _contrib(
                    F.add_months(F.col("__ms"), 1),
                    s_l[28], s_l[29], s_l[30], s_l[31], F.lit(1).cast("long"), has_v,
                    zero, zero, zero, has_middle,
                ),
            )
        ).alias("c")
    ).where(F.col("c.valid"))
    from pyspark import StorageLevel

    g = contribs.groupBy(F.col("c.month").alias("month")).agg(
        F.sum("c.d28").alias("d28"),
        F.sum("c.d29").alias("d29"),
        F.sum("c.d30").alias("d30"),
        F.sum("c.d31").alias("d31"),
        F.sum("c.dcnt").alias("dcnt"),
        F.sum("c.dvcnt").alias("dvcnt"),
        F.sum("c.direct_e4").alias("direct_e4"),
        F.sum("c.direct_cnt").alias("direct_cnt"),
        F.sum("c.direct_vcnt").alias("direct_vcnt"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # dense month axis: the diffs only mark run boundaries, so months
    # covered purely as middles need their own row for the cumulative
    # sum to land on. Every interval contributes a row at __ms AND at
    # __me (single-month: __ms == __me), so min/max over g's months ARE
    # the global [min __ms, max __me] — the axis derives from the
    # persisted O(months) aggregate instead of a second full pass over
    # the input (the persist exists precisely because g is consumed
    # twice: bounds + the join below; it is O(calendar span) rows).
    axis = (
        g.agg(F.min("month").alias("__lo"), F.max("month").alias("__hi"))
        .where(F.col("__lo").isNotNull())
        .select(
            F.explode(
                F.sequence(F.col("__lo"), F.col("__hi"), F.expr("interval 1 month"))
            ).alias("month")
        )
    )
    z = F.lit(0).cast("long")
    dense = axis.join(F.broadcast(g), "month", "left").select(
        "month",
        *[F.coalesce(F.col(c), z).alias(c) for c in
          ("d28", "d29", "d30", "d31", "dcnt", "dvcnt", "direct_e4", "direct_cnt",
           "direct_vcnt")],
    )
    # single ordered pass over the bounded axis (intentionally one
    # window partition: the frame is O(months in span), never O(rows))
    w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = dense.select(
        "month",
        "direct_e4",
        "direct_cnt",
        "direct_vcnt",
        *[F.sum(c).over(w).alias(f"c{c}")
          for c in ("d28", "d29", "d30", "d31", "dcnt", "dvcnt")],
    )
    dim = (F.datediff(F.last_day(F.col("month")), F.col("month")) + 1).cast("int")
    middle_e4 = (
        F.when(dim == 28, F.col("cd28"))
        .when(dim == 29, F.col("cd29"))
        .when(dim == 30, F.col("cd30"))
        .otherwise(F.col("cd31"))
    )
    return (
        cum.select(
            "month",
            (F.col("direct_cnt") + F.col("cdcnt")).alias("n_parts"),
            F.when(
                F.col("direct_vcnt") + F.col("cdvcnt") > 0, F.col("direct_e4") + middle_e4
            ).alias(f"{value_col}_alloc_e4_sum"),
        )
        .where(F.col("n_parts") > 0)
    )


def ewma_half(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    value: str,
    window_rows: int = 20,
    tiebreak: str | None = None,
    scale: int = 4,
) -> DataFrame:
    """Exponentially weighted moving average with decay 1/2 (K-ext: the
    exponential smoother next to the rolling mean/median/z-score family).

    α is FIXED at 1/2 so every weight is a power of two and the whole
    computation stays in exact integer fixed-point: values quantize to
    ``scale`` decimals, the frame's weighted sum is
    ``Σ vᵢ·2^(pos-1)`` (newest weight 2^n⁻¹ … oldest 1, all exact), the
    normalizer is ``2ⁿ−1``, and the quotient truncates via ``x - x % n``
    — bit-identical across engines and partition orders, like
    :func:`interpolate_gaps`. A general-α EWMA needs float powers whose
    last-ulp behavior is engine-specific; 1/2 is the canonical "half-life
    = one step" smoother and the oracle-exact choice. The window bound
    (default 20 back-rows) truncates weights below 2⁻²⁰ — under the
    quantization noise floor, so the bounded form ≈ the infinite one.

    Exactness bound: |value|·10^scale · 2^window_rows · window_rows must
    stay < 2^63 (and < 2^53 for the oracle's double dot product) — at
    scale 4, window 20: |value| < ~4·10⁴. One window pass, no UDFs.

    Output: input + ``ewma`` (rounded ``scale`` decimals).
    """
    m = 10**scale
    order = [F.col(ts).asc()] + ([F.col(tiebreak).asc()] if tiebreak else [])
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(-window_rows, Window.currentRow)
    )
    v_fp = qlong(F.col(value), m)
    arr = F.collect_list(v_fp).over(w)  # frame order: oldest -> newest
    n = F.size(arr)
    weights = F.transform(
        F.sequence(F.lit(1), n), lambda p: F.pow(F.lit(2.0), p - 1).cast("long")
    )
    numer = F.aggregate(
        F.zip_with(arr, weights, lambda x, wt: x * wt),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )
    denom = (F.pow(F.lit(2.0), n).cast("long") - 1).cast("long")
    ewma_fp = ((numer - numer % denom) / denom).cast("long")
    return df.withColumn("ewma", F.round(ewma_fp / F.lit(float(m)), scale))


def per_key_ols(
    df: DataFrame,
    keys: Sequence[str],
    x: Column,
    y: Column,
    x_scale: int = 2,
    y_scale: int = 6,
) -> DataFrame:
    """Per-key ordinary-least-squares fit y = intercept + slope·x as ONE
    aggregation — the eemeter-style weather-normalization model (usage
    vs degree days) reduced to its closed form:

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)

    All five sufficient statistics are exact fixed-point long sums
    (x at ``x_scale`` decimals, y at ``y_scale``), so the slope/intercept
    doubles are bit-identical across engines and partition orders; only
    the final division is float. No grouped-map UDF, no per-key fit loop
    — a million meters fit in one map-combinable groupBy (the shuffle
    carries 5 longs per key). Keys whose x is constant (zero variance)
    report NULL slope/intercept.

    Overflow bound: |Σx·Σy| < 2^63 must hold, i.e. roughly
    n·x̄·10^x_scale · n·ȳ·10^y_scale < 9.2e18 — comfortable for
    per-meter daily series (n ≤ tens of thousands); beyond that, rescale
    or switch the sums to DECIMAL.

    Output: keys..., n, slope, intercept (rounded 6dp).
    """
    mx, my = 10**x_scale, 10**y_scale
    xf = qlong(x, mx)
    yf = qlong(y, my)
    agg = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xf).alias("__sx"),
        F.sum(yf).alias("__sy"),
        F.sum(xf * yf).alias("__sxy"),
        F.sum(xf * xf).alias("__sxx"),
    )
    n = F.col("n")
    det = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    slope_scaled = (n * F.col("__sxy") - F.col("__sx") * F.col("__sy")) / det
    # slope in data units: (y_units/x_units) = scaled · mx/my
    slope = slope_scaled * F.lit(float(mx) / my)
    intercept = (F.col("__sy") / n / my) - slope * (F.col("__sx") / n / mx)
    nz = det != 0
    return agg.select(
        *keys,
        "n",
        F.when(nz, F.round(slope, 6)).alias("slope"),
        F.when(nz, F.round(intercept, 6)).alias("intercept"),
    )


def changepoint_balance_fit(
    df: DataFrame,
    keys: Sequence[str],
    temp: Column,
    y: Column,
    candidates: Sequence[int],
    x_scale: int = 2,
    y_scale: int = 6,
) -> DataFrame:
    """Per-key change-point weather model: grid-search the heating
    balance point (the CalTRACK/eemeter daily-model core) instead of
    assuming one. For every candidate base temperature B, fit
    y = a + b·max(0, B − temp) by the same exact fixed-point sufficient
    statistics as :func:`per_key_ols`, and keep the B minimizing SSE —
    equivalently maximizing D = (n·Σxy − Σx·Σy)² / (n·Σx² − (Σx)²),
    since the y-variance term is constant across candidates.

    Determinism: the five stats are exact longs; D is computed in double
    with ONE fixed association (cast(A)·cast(A)/cast(det)) so every
    engine derives the identical double from identical integers, and the
    argmax tie-breaks on the lower candidate. Zero-variance candidates
    (det = 0) are excluded; a key survives if any candidate has signal.

    Scale shape: the candidate grid is a literal |B|-row fan-out BEFORE
    the one grouped aggregation — the shuffle carries |B| stat rows of
    six longs per key (a million meters × 9 candidates is still tiny),
    then one window over |B| rows per key picks the winner. No grouped-
    map UDF, no per-key iteration.
    """
    mx, my = 10**x_scale, 10**y_scale
    cand = F.explode(
        F.array(*[F.lit(int(b)) for b in candidates])
    ).alias("__bp")
    rows = df.select(*keys, temp.alias("__t"), y.alias("__y"), cand)
    hdd = F.round(
        F.greatest(F.lit(0.0), F.round(F.col("__bp") - F.col("__t"), x_scale)),
        x_scale,
    )
    xf = qlong(hdd, mx)
    yf = qlong(F.col("__y"), my)
    s = rows.groupBy(*keys, "__bp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xf).alias("__sx"),
        F.sum(yf).alias("__sy"),
        F.sum(xf * yf).alias("__sxy"),
        F.sum(xf * xf).alias("__sxx"),
        F.sum(yf * yf).alias("__syy"),
    )
    n = F.col("n")
    a_ = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    det = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    nsyy = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    d_ = a_.cast("double") * a_.cast("double") / det.cast("double")
    scored = s.where(det != 0).select(
        *keys,
        F.col("__bp"),
        n,
        a_.alias("__a"),
        det.alias("__det"),
        nsyy.alias("__nsyy"),
        d_.alias("__d"),
        F.col("__sx"),
        F.col("__sy"),
    )
    w = Window.partitionBy(*keys).orderBy(
        F.col("__d").desc(), F.col("__bp").asc()
    )
    best = scored.withColumn("__rn", F.row_number().over(w)).where(
        F.col("__rn") == 1
    )
    slope = (F.col("__a") / F.col("__det")) * F.lit(float(mx) / my)
    intercept = (
        F.col("__sy") / n / my - slope * (F.col("__sx") / n / mx)
    )
    rsq = F.when(
        F.col("__nsyy") != 0, F.col("__d") / F.col("__nsyy").cast("double")
    )
    return best.select(
        *keys,
        F.col("__bp").alias("balance_point"),
        n,
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(rsq, 6).alias("rsq"),
    )
