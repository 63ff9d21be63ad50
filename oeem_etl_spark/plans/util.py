"""Helpers shared by the declared-query modules.

Float determinism (SURVEY.md §7.4 trap #1): parallel double summation is
order-dependent, so a raw ``SUM(double)`` can differ in the last bits
between Spark and DuckDB and flip a rounded digit. Two deterministic
accumulations are provided; both quantize each value to ``scale`` decimals
first, making the sum an exact integer arithmetic problem that is
order-independent and engine-independent:

- :func:`dsum` / :func:`davg` — **integer-micros path** (default): each
  value becomes ``round(x * 10^scale)`` as a 64-bit long and the group sum
  is a long sum. Benchmarked ~40% faster than decimal aggregation on the
  join+agg headline queries (long sums stay in whole-stage codegen's
  primitive path; Spark's decimal sum buffers are object-backed above
  precision 18). EXACTNESS BOUND: the group's |sum| must stay below
  2^63 / 10^scale (9.2e12 at scale 6) — holds for every fixture scale and
  for most real aggregates; a 100 TB money-sum over trillions of units
  must use the decimal path below. The bound is ENFORCED at runtime:
  under ANSI mode (Spark 4.x default, pinned in session.py) the long sum
  itself raises ARITHMETIC_OVERFLOW exactly when it would wrap; on a
  legacy non-ANSI session, ``checked=True`` (default) arms a conservative
  max·count probe riding the same aggregate that raises instead of letting
  the long wrap silently. Either way an out-of-range aggregate is an
  error, never a wrong answer.
- :func:`dsum_decimal` / :func:`davg_decimal` — **decimal path**: casts to
  ``DECIMAL(30, scale)`` and sums with Spark's overflow-checked decimal
  aggregate (returns NULL on overflow instead of wrapping). The 100 TB-safe
  choice; ~1.7× slower locally.

Rounding parity note: ``F.round`` (Spark), ``ROUND`` (DuckDB) and the
decimal cast all round half-away-from-zero on the double's exact value, so
the quantization step is bit-identical across engines; exact half-way
ties at the ``scale``-th digit are the only divergence risk and have
measure ~0 for real-valued data. CAVEAT (found by a61, round 8): that
measure-zero argument fails for DERIVED money — 2dp prices × 1.1 land on
3-decimal ``.xx5`` representational ties where Spark rounds the shortest
DECIMAL repr (BigDecimal.valueOf → HALF_UP: 283256.85·1.1 → 311582.54)
while DuckDB rounds the BINARY value (→ .53). Never oracle-compare
``ROUND(f(x), n)`` where f can manufacture ties; compute in exact integer
cents instead — ``(cents*11 + 5) div 10`` — pinned in
tests/test_misc.py::test_round_tie_divergence_engine_note.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from oeem_etl_spark.catalog import load_table

T = load_table  # T(spark, sf_dir, name) -> DataFrame


def _col(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def qlong(col: Column | str, scale: int = 6) -> Column:
    """``round(x · 10^scale)`` as a long — the shared fixed-point
    quantizer, in arithmetic form: ``sign · floor(|x·10^scale| + 0.5)``.

    Value-identical to ``F.round(x·m).cast("long")`` (BigDecimal HALF_UP
    = half away from zero) for every |x·m| < 2^52: the +0.5 add is
    lossless there, an exact .5 product cannot arise from a 10^k scale
    in binary, and a double that LANDS on n.5 rounds away under both.
    Also exactly DuckDB ``ROUND``'s binary-value semantics — closer to
    the oracle than F.round's shortest-decimal-repr reading (util
    docstring CAVEAT). Beyond 2^52 the double is already integral and
    floor(+0.5) can bump an odd integer by one — but such magnitudes
    (≥ 4.5e9 money units at scale 6) are outside the dsum long-sum
    contract anyway; use the decimal path there.

    Why not F.round: its codegen allocates a BigDecimal via
    Double.toString per value — measured ~2× the cost of the whole
    scan+project on a 600k-row money column; this form is pure
    primitive arithmetic (0.205 → 0.091 s on that probe).
    """
    from oeem_etl_spark.functions.fixedpoint import qlong as _q

    return _q(_col(col), 10**scale)


def _ansi_enabled() -> bool:
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    return (
        spark is None  # no session yet: assume the 4.x default (ANSI on)
        or spark.conf.get("spark.sql.ansi.enabled", "true").lower() == "true"
    )


def _overflow_guard(micros: Column, agg: Column) -> Column:
    """Ensure a long-sum aggregate raises instead of wrapping silently.

    Under ANSI mode (the Spark 4.x default, pinned in session.py) the long
    sum's own accumulation already raises ARITHMETIC_OVERFLOW exactly when
    it would wrap, which preempts and strictly dominates any probe — so
    this is a no-op there (a conservative probe could only add false
    positives on top of an exact engine check).

    On a non-ANSI session (legacy deployments), arm a conservative bound
    piggybacked into the SAME aggregation (two extra primitive agg buffers
    — max(abs) and count — no extra pass or shuffle): if
    ``max(|micros|) * count`` could reach 2^63 the long sum *may* have
    wrapped, so fail loudly and point at the decimal path. One-sided: a
    raise means "not provably safe" (mixed-sign groups can trigger it
    without actual overflow); no raise means the returned sum is exact.
    """
    if _ansi_enabled():
        return agg
    bound = F.max(F.abs(micros)).cast("double") * F.count(micros).cast("double")
    return F.when(
        bound < float(2**63), agg
    ).otherwise(
        F.raise_error(
            F.lit(
                "dsum/davg integer-micros overflow risk: |group sum| may exceed "
                "2^63 (non-ANSI long wraps silently) — use dsum_decimal/"
                "davg_decimal for this aggregate, or lower the scale"
            )
        ).cast("long")
    )


def _micros(col: Column | str, scale: int, quantizer: str) -> Column:
    """The micros expression behind dsum/davg, in one of two provably
    value-identical forms (tests/test_fixedpoint.py pins them equal on
    adversarial grids):

    - ``"qlong"`` (default): the primitive floor(+0.5)+overshoot-correct
      arithmetic — ~20 primitive expression nodes per value, the winner
      in row-projection contexts (q02 A/B: 0.54 vs 0.62 s min).
    - ``"round"``: ``F.round(x·m).cast("long")`` — one compact call per
      value. The winner when MANY quantized aggregates share one
      HashAggregate update (r10 q01 A/B, 7 aggregates at 32 threads:
      round 0.34/0.60 s min vs qlong 0.48/0.79 across two interleaved
      A/Bs — the wide qlong battery bloats the generated update past
      what JIT digests; with 1 aggregate the forms tie, as on t05).
    """
    if quantizer == "round":
        return F.round(_col(col) * F.lit(10**scale)).cast("long")
    return qlong(col, scale)


def dsum(
    col: Column | str,
    alias: str,
    scale: int = 6,
    checked: bool = True,
    quantizer: str = "qlong",
) -> Column:
    """Order-independent SUM over doubles: integer-micros accumulation.

    ``scale`` must exceed the data's intrinsic decimal precision so the
    quantization is lossless (fixture money columns have ≤2dp, their
    2-term products ≤6dp → scale 6 is exact, not approximate).

    ``checked=True`` (default) piggybacks an overflow guard into the same
    aggregate: groups whose |sum| could exceed 2^63/10^scale raise at
    execution instead of wrapping silently (see :func:`_overflow_guard`).

    ``quantizer`` picks the micros form (see :func:`_micros`) — value-
    identical either way; choose by measurement per site.
    """
    m = 10**scale
    micros = _micros(col, scale, quantizer)
    total = F.sum(micros)
    if checked:
        total = _overflow_guard(micros, total)
    return F.round(total / F.lit(float(m)), scale).alias(alias)


def davg(
    col: Column | str,
    alias: str,
    scale: int = 6,
    checked: bool = True,
    quantizer: str = "qlong",
) -> Column:
    """Order-independent AVG: exact integer-micros sum / count, rounded."""
    m = 10**scale
    micros = _micros(col, scale, quantizer)
    total = F.sum(micros)
    if checked:
        total = _overflow_guard(micros, total)
    return F.round(total / F.count(micros) / F.lit(float(m)), scale).alias(alias)


def sql_dsum(expr: str, alias: str, scale: int = 6) -> str:
    """DuckDB-side mirror of :func:`dsum`."""
    m = 10**scale
    return (
        f"ROUND(SUM(CAST(ROUND(({expr}) * {m}) AS BIGINT)) / {m}.0, {scale})"
        f" AS {alias}"
    )


def sql_davg(expr: str, alias: str, scale: int = 6) -> str:
    """DuckDB-side mirror of :func:`davg`."""
    m = 10**scale
    return (
        f"ROUND(SUM(CAST(ROUND(({expr}) * {m}) AS BIGINT))"
        f" / COUNT({expr}) / {m}.0, {scale}) AS {alias}"
    )


def dsum_decimal(col: Column | str, alias: str, scale: int = 6) -> Column:
    """Overflow-checked decimal SUM — the beyond-long-range (100 TB) path."""
    dec = f"decimal(30,{scale})"
    return F.round(F.sum(_col(col).cast(dec)).cast("double"), scale).alias(alias)


def davg_decimal(col: Column | str, alias: str, scale: int = 6) -> Column:
    """Overflow-checked decimal AVG."""
    c = _col(col)
    total = F.sum(c.cast(f"decimal(30,{scale})")).cast("double")
    return F.round(total / F.count(c), scale).alias(alias)


def sql_dsum_decimal(expr: str, alias: str, scale: int = 6) -> str:
    """DuckDB-side mirror of :func:`dsum_decimal`."""
    return (
        f"ROUND(CAST(SUM(CAST(({expr}) AS DECIMAL(30,{scale}))) AS DOUBLE), {scale})"
        f" AS {alias}"
    )


def sql_davg_decimal(expr: str, alias: str, scale: int = 6) -> str:
    """DuckDB-side mirror of :func:`davg_decimal`."""
    return (
        f"ROUND(CAST(SUM(CAST(({expr}) AS DECIMAL(30,{scale}))) AS DOUBLE)"
        f" / COUNT({expr}), {scale}) AS {alias}"
    )
