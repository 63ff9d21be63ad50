"""Relational composite operators (SURVEY.md §2.C/§2.D/§2.E).

These are the operators the reference needed for its upload/upsert and
interval-alignment semantics (SURVEY.md §2 rows C7, C8, D12, E5, K6 —
reference capabilities tagged [PK-high] there; /root/reference is empty so
no file:line citation is possible). All are pure DataFrame compositions:
one shuffle each, no UDFs, no driver-side loops.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dedupe_keep_latest(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column],
) -> DataFrame:
    """Keep exactly one row per natural key: the first under ``order_by``.

    Upsert semantics (newest record wins) = ``order_by=[ts.desc(),
    version.desc()]``. Pass a total order (include a unique tiebreaker) for
    deterministic results. General path: window ``row_number``, one shuffle
    on ``keys`` plus a per-partition sort. When every order column shares
    one direction, prefer :func:`dedupe_keep_latest_by` — measured ~1.8×
    faster and strictly better at scale (hash aggregation with map-side
    partial combine: the shuffle carries one candidate row per key per
    input partition instead of every row). Extremely hot natural keys
    should be pre-salted by the caller either way (AQE skew-split only
    covers joins).
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedupe_keep_latest_by(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    keep: str = "max",
) -> DataFrame:
    """Keep-latest via ``max_by``/``min_by`` over a lexicographic struct of
    ``order_cols`` (include a unique tiebreaker for determinism).

    Equivalent to :func:`dedupe_keep_latest` with all-descending
    (``keep='max'``) or all-ascending (``keep='min'``) order, but planned
    as a hash aggregate: partial combine runs map-side, so at 100 TB the
    shuffle is bounded by (#keys × #input partitions), not input rows —
    the difference between a re-sort of the fleet and a metadata exchange.
    Column order of the result matches the input.
    """
    agg_fn = F.max_by if keep == "max" else F.min_by
    payload = [c for c in df.columns if c not in keys]
    picked = df.groupBy(*keys).agg(
        agg_fn(
            F.struct(*payload), F.struct(*[F.col(c) for c in order_cols])
        ).alias("__best")
    )
    return picked.select(*keys, "__best.*").select(*df.columns)


def topk_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
) -> DataFrame:
    """Top-k rows per group by rank-then-filter (§2.E5).

    Catalyst rewrites this to a WindowGroupLimit (rank-pushdown) physical
    node in Spark 4, so each partition keeps only k rows before the final
    window — no full per-group sort materialization.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    allow_exact: bool = True,
    direction: str = "backward",
) -> DataFrame:
    """As-of join (§2.C8): for each left row, attach ``value_cols`` from the
    latest right row with ``right.ts <= left.ts`` (or ``<`` when
    ``allow_exact=False``) within the same key group. ``direction=
    "forward"`` flips the inequality: the EARLIEST right row with
    ``right.ts >= left.ts`` (next-reading-after semantics — e.g. the first
    meter read following a correction).

    Spark has no native as-of join; the scalable plan used here is the
    union + ordered-window forward-fill trick:

      1. union left and right rows tagged with ``__is_left``;
      2. one window per key ordered by (ts, tag) with a running
         ``last(value, ignorenulls=True)``;
      3. keep only left rows.

    This costs ONE shuffle on ``keys`` over (|L|+|R|) rows — versus the
    naive join+filter+rank which materializes |L|×|R| pairs per key. At
    100 TB the naive plan is quadratic in hot keys; this one is linear.

    Right-side ties on (key, ts) are resolved deterministically by keeping
    the row that sorts last under ``value_cols`` order of arrival; callers
    needing a specific winner should pre-dedup the right side.
    """
    # left_ts is excluded here because it re-enters as __ts and is renamed
    # back on return — keeping it would emit a duplicate, ambiguous column.
    lcols = [c for c in left.columns if c not in value_cols and c != left_ts]
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    # scan order: backward scans time ascending (running last = nearest past
    # right row); forward scans descending (running last = nearest future).
    # At a timestamp tie, the right row must be scanned BEFORE the left row
    # for the inclusive (allow_exact) variant, after it for the strict one.
    ts = F.col("__ts").asc() if direction == "backward" else F.col("__ts").desc()
    tag = F.col("__is_left").asc() if allow_exact else F.col("__is_left").desc()
    tag_order = [ts, tag]

    lhs = left.select(
        *[F.col(c) for c in lcols],
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in value_cols],
    )
    rhs = right.select(
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c) if c not in keys else F.col(c)
            for c in lcols
        ],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        *[F.col(c) for c in value_cols],
    )

    w = (
        Window.partitionBy(*keys)
        .orderBy(*tag_order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    unioned = lhs.unionByName(rhs)
    for c in value_cols:
        unioned = unioned.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return (
        unioned.where(F.col("__is_left") == 1)
        .drop("__is_left")
        .withColumnRenamed("__ts", left_ts)
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    keys: Sequence[str] = (),
    how: str = "inner",
) -> DataFrame:
    """Interval-overlap join (§2.C7): rows whose [start, end) ranges overlap.

    Overlap predicate: ``l.start < r.end AND r.start < l.end`` plus optional
    equi-keys. With equi-keys Catalyst plans a hash join with a residual
    range predicate (one shuffle); without keys, broadcast the small side —
    callers at scale should bucket both sides by a coarse time grid first
    and join on the bucket to avoid the cartesian fallback.
    """
    cond = (F.col(f"l.{left_start}") < F.col(f"r.{right_end}")) & (
        F.col(f"r.{right_start}") < F.col(f"l.{left_end}")
    )
    for k in keys:
        cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))
    return left.alias("l").join(right.alias("r"), cond, how)


def asof_align_broadcast(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    how: str = "left",
) -> DataFrame:
    """KEYLESS backward as-of against a SMALL boundary table (§2.C8's
    grid-alignment face) as a broadcast single-match interval join.

    :func:`asof_join` with a constant key is correct but funnels EVERY
    left row through one window partition (the r9 mem probe measured the
    c81 chain's shuffle read at 13× its write from exactly this) — fine
    at fixture scale, a single-task bottleneck at 100 TB. When the right
    side is dimension-sized (a time grid, campaign starts), the scalable
    plan is: give each boundary its successor via one dim-sized window,
    broadcast, and join on the half-open interval
    ``right_ts <= left_ts < next_boundary`` — exactly one match per left
    row, no shuffle of the left side at all, fully parallel.

    Semantics equal ``asof_join(..., allow_exact=True,
    direction="backward")`` on a deduplicated right side; left rows
    before the first boundary get NULL values under ``how="left"`` and
    DROP under ``how="inner"`` (DuckDB's bare ``ASOF JOIN``). The last
    boundary's successor is NULL and the predicate treats NULL-next as
    +infinity, so the operator works for ANY orderable ts type (numeric
    epoch columns included — a typed literal sentinel would cast to
    NULL there and silently unmatch the last boundary; r9 review
    finding). ``value_cols`` take the RIGHT side's values even when a
    same-named left column exists, matching asof_join's precedence."""
    w = Window.orderBy(right_ts)  # dim-sized: the single partition is the point
    r = right.withColumn("__next", F.lead(right_ts).over(w)).alias("r")
    lcols = [c for c in left.columns if c not in value_cols]
    l = left.alias("l")
    cond = (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}")) & (
        F.col("r.__next").isNull()
        | (F.col(f"l.{left_ts}") < F.col("r.__next"))
    )
    keep = [F.col(f"l.{c}") for c in lcols] + [
        F.col(f"r.{c}") for c in value_cols
    ]
    return l.join(F.broadcast(r), cond, how).select(*keep)


def merge_upsert(
    target: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    broadcast_delta: bool = False,
) -> DataFrame:
    """Batch upsert (§2.K6): delta rows replace target rows on key match,
    non-matching rows from both sides survive (the reference datastore's
    bulk-upsert upload semantics, SURVEY.md §2.K6 [PK-high]).

    Implemented as target-anti-delta ∪ delta: one shuffle for the anti join
    (broadcast when delta is small), one union — cheaper than a full-outer
    join + per-column coalesce when schemas are identical.

    The usual 100 TB shape is huge-target × small-delta: pass
    ``broadcast_delta=True`` so the anti join ships only delta's keys to
    every executor and the target never shuffles (post-agg size estimates
    are too coarse for the static planner to pick this by itself).
    """
    delta_keys = delta.select(*keys)
    if broadcast_delta:
        delta_keys = F.broadcast(delta_keys)
    survivors = target.join(delta_keys, list(keys), "left_anti")
    return survivors.unionByName(delta)


def weighted_quantile(
    df: DataFrame,
    group_by: Sequence[str],
    value_col: str,
    weight_col: str,
    q_num: int = 1,
    q_den: int = 2,
) -> DataFrame:
    """Exact lower weighted quantile per group: the smallest value whose
    cumulative weight reaches ``q_num/q_den`` of the group's total weight
    (q_num=1, q_den=2 -> weighted median). Weights must be integral (cast
    to long); the reach test is pure integer arithmetic
    (``q_den * cum >= q_num * total``), so every engine and every
    partitioning agrees bit-for-bit — no float quantile interpolation.

    NULL values carry no rank: rows with a NULL ``value_col`` are
    excluded from the distribution (engines disagree on where NULLs sort
    in a cumulative window — Spark NULLS FIRST vs DuckDB NULLS LAST —
    so any other contract is engine-dependent).

    Shape: one grouped pre-aggregation collapses duplicate values (the
    cumulative scan then runs over distinct values, not rows), one
    window for the running weight, one min-reduce for the answer. All
    three share the group key's partitioning — a single shuffle, and the
    window is bounded by value cardinality within each group."""
    g = list(group_by)
    v, w = F.col(value_col), F.col(weight_col).cast("long")
    df = df.where(v.isNotNull())
    per_value = df.groupBy(*g, v.alias("__v")).agg(F.sum(w).alias("__w"))
    win = (
        Window.partitionBy(*g)
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy(*g)
    cum = (
        per_value.withColumn("__cum", F.sum("__w").over(win))
        .withColumn("__tot", F.sum("__w").over(tot))
    )
    reached = cum.where(
        F.col("__cum") * q_den >= F.col("__tot") * q_num
    )
    return reached.groupBy(*g).agg(F.min("__v").alias(value_col))


def weighted_quantile_bucketed(
    df: DataFrame,
    group_by: Sequence[str],
    value_col: str,
    weight_col: str,
    q_num: int = 1,
    q_den: int = 2,
    n_buckets: int = 1024,
) -> DataFrame:
    """Exact lower weighted quantile via two-phase bucket refinement —
    the 100 TB shape of :func:`weighted_quantile`, which scans each
    group's ordered values under ONE window partition (parallelism =
    group count). Here no per-group ordered scan ever sees the full
    data:

    1. range-bucket every value (min/max from a broadcast 2-number
       aggregate), aggregate weight per (group, bucket) — a frame of at
       most ``groups x n_buckets`` rows; a driver-free cumulative window
       over it finds each group's TARGET bucket and the weight still
       needed when entering it;
    2. re-scan only rows in each group's target bucket (one equi-join
       filter), order within that bucket alone — 1/n_buckets of the
       data under the second window.

    Integer reach arithmetic throughout (weights cast long), so the
    result is bit-identical to the one-pass operator and to a SQL
    oracle. Two scans instead of one is the explicit trade: each
    exchange is small and every stage is wide-parallel.

    NULL values are excluded, matching :func:`weighted_quantile`."""
    from pyspark import StorageLevel

    g = list(group_by)
    v, w = F.col(value_col), F.col(weight_col).cast("long")
    # r10: the projected base is consumed THREE times (min/max range,
    # histogram, target-bucket re-scan) — one parquet scan + persist of
    # the 3-narrow-column frame replaces three full scans/decodes
    # (guide §5: reuse > the few-MB-per-partition memory cost; at scale
    # this is ~2% of the table width). The frame stays in the session's
    # cache manager until unpersist() or clearCache(), and a later build
    # of the same plan reads it.
    base = (
        df.where(v.isNotNull())
        .select(*g, v.alias("__v"), w.alias("__w"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    v, w = F.col("__v"), F.col("__w")
    rng = base.agg(
        F.min(v).alias("__lo"), F.max(v).alias("__hi")
    )
    bucketed = base.crossJoin(F.broadcast(rng)).select(
        *g,
        "__v",
        "__w",
        F.when(
            F.col("__hi") == F.col("__lo"), F.lit(0)
        ).otherwise(
            F.least(
                F.floor(
                    (v - F.col("__lo"))
                    / ((F.col("__hi") - F.col("__lo")) / n_buckets)
                ).cast("int"),
                F.lit(n_buckets - 1),
            )
        ).alias("__b"),
    )
    hist = bucketed.groupBy(*g, "__b").agg(F.sum("__w").alias("__bw"))
    win = (
        Window.partitionBy(*g)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy(*g)
    cum = hist.withColumn("__cum", F.sum("__bw").over(win)).withColumn(
        "__tot", F.sum("__bw").over(tot)
    )
    # first bucket whose cumulative weight reaches the target; the rank
    # still needed inside it is target - (cum before this bucket)
    target = cum.where(F.col("__cum") * q_den >= F.col("__tot") * q_num)
    target = (
        target.groupBy(*g)
        .agg(
            F.min("__b").alias("__tb"),
        )
        .join(cum.select(*g, F.col("__b").alias("__tb"), "__cum", "__bw", "__tot"), [*g, "__tb"])
        .select(
            *g,
            "__tb",
            (F.col("__cum") - F.col("__bw")).alias("__before"),
            "__tot",
        )
    )
    inb = bucketed.join(
        F.broadcast(target),
        [*g]
    ).where(F.col("__b") == F.col("__tb"))
    win2 = (
        Window.partitionBy(*g)
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        inb.withColumn("__cum2", F.sum("__w").over(win2))
        .where(
            (F.col("__before") + F.col("__cum2")) * q_den
            >= F.col("__tot") * q_num
        )
        .groupBy(*g)
        .agg(F.min("__v").alias(value_col))
    )


def apply_cdc(
    target: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    op_col: str = "op",
    seq_col: str = "seq",
    broadcast_changes: bool = False,
) -> DataFrame:
    """Apply a CDC change feed (I/U/D rows with a per-key sequence) to a
    keyed target — :func:`merge_upsert` extended with DELETE semantics,
    the Debezium/Delta `MERGE ... WHEN MATCHED THEN DELETE` shape:

    1. collapse the feed to each key's LATEST change (max ``seq_col``
       via :func:`dedupe_keep_latest_by` — a map-side-combinable hash
       aggregate, no window sort: the collapse shuffle is bounded by
       #keys × #input partitions, not feed rows);
    2. anti-join the target against ALL touched keys (delete + replace
       in one pass);
    3. union the surviving latest non-delete rows back in.

    ``op_col`` values: 'I'/'U' rows carry the new image (both become the
    key's row), 'D' removes the key. ``seq_col`` must be unique per key
    for a deterministic result — two feed rows tied at a key's max seq
    pick an unspecified winner (emit a monotonic per-key sequence, as
    CDC sources do). The usual 100 TB shape is huge-target ×
    small-feed: ``broadcast_changes=True`` ships only the touched keys
    to executors and the target never shuffles."""
    data_cols = [
        c for c in changes.columns if c not in (op_col, seq_col)
    ]
    latest = dedupe_keep_latest_by(changes, keys, [seq_col], keep="max")
    touched = latest.select(*keys)
    if broadcast_changes:
        touched = F.broadcast(touched)
    survivors = target.join(touched, list(keys), "left_anti")
    upserts = latest.where(F.col(op_col) != "D").select(*data_cols)
    return survivors.unionByName(upserts)
