"""Streaming operators (SURVEY.md §2.I) as PURE DataFrame transformations.

Every function here takes a DataFrame and returns a DataFrame, with no
``readStream``/``writeStream`` inside — so the identical code path runs in
batch mode (correctness oracle, §5.2 batch-equivalence) and in Structured
Streaming (incremental execution with state stores). That symmetry is the
whole test strategy: streaming has no DuckDB oracle, but
``availableNow``-draining a static directory must equal the batch run.

Scale notes: windowed aggregations keep one state row per (window, key) in
the executor state store and are GC'd by the watermark (I4); without a
watermark, complete-mode aggregations grow state monotonically — fine for
bounded replays, never for true unbounded streams.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quantize_micros(v):
    """Half-AWAY-from-zero integer-micros quantization: the ONE form every
    stateful operator in this module uses (ROUND parity with Spark/DuckDB;
    numpy ``.round``/pandas ``.round(0)`` are half-to-EVEN and diverge on
    .xx...5 ties). Takes anything array-like, returns an int64 ndarray.
    Non-finite inputs are the caller's contract: sum paths must drop them
    first via :func:`sum_micros` (astype('int64') silently maps NaN to
    INT64_MIN)."""
    import numpy as np

    a = np.asarray(v, dtype="float64")
    m = np.abs(a) * 1e6
    c = np.floor(m + 0.5)  # candidate; overshoots by 1 in the ulp/2
    # window below each .5 boundary where the +0.5 add rounds up —
    # correct it with the exact integer-subtraction compare (same proof
    # as functions/fixedpoint.qlong: m - (c-1) is exact below 2^53)
    mag = np.where(m - (c - 1.0) < 0.5, c - 1.0, c)
    return (np.sign(a) * mag).astype("int64")


def sum_micros(v) -> int:
    """Exact micros batch ACCUMULATOR sum: skip NaN (SQL SUM skips NULLs;
    Arrow delivers them as NaN), quantize half-away-from-zero, sum as
    int64. An all-NaN/empty batch contributes 0 — correct for a running
    STATE accumulator (adding nothing); the SQL all-NULL-group → NULL
    semantic belongs to the UDAF level (functions/udfs.micros_total).
    ±inf is a genuine un-quantizable value, not a missing one — raise
    loudly instead of silently deleting it (r9 review finding: the
    original isfinite filter masked inf as if it were NULL)."""
    import numpy as np

    a = np.asarray(v, dtype="float64")
    a = a[~np.isnan(a)]
    if np.isinf(a).any():
        raise ValueError("sum_micros: non-finite (inf) value cannot quantize")
    return int(quantize_micros(a).sum())


def tumbling_agg(
    df: DataFrame,
    duration: str,
    keys: list[str],
    aggs: list[Column],
    ts_col: str = "ts",
) -> DataFrame:
    """I1: fixed, epoch-aligned, non-overlapping windows."""
    w = F.window(ts_col, duration)
    agged = df.groupBy(w.alias("w"), *keys).agg(*aggs)
    return agged.select(
        F.col("w.start").alias("window_start"), *keys, *_agg_names(agged, 1 + len(keys))
    )


def sliding_agg(
    df: DataFrame,
    duration: str,
    slide: str,
    keys: list[str],
    aggs: list[Column],
    ts_col: str = "ts",
) -> DataFrame:
    """I2: overlapping windows — each event lands in duration/slide windows."""
    w = F.window(ts_col, duration, slide)
    agged = df.groupBy(w.alias("w"), *keys).agg(*aggs)
    return agged.select(
        F.col("w.start").alias("window_start"), *keys, *_agg_names(agged, 1 + len(keys))
    )


def session_agg(
    df: DataFrame,
    gap: str | Column,
    keys: list[str],
    aggs: list[Column],
    ts_col: str = "ts",
) -> DataFrame:
    """I3: gap-based sessions; a session closes after ``gap`` of silence.
    ``session_end`` is last-event-ts + gap (Spark's session_window shape).
    ``gap`` may be a Column expression for per-event DYNAMIC gaps (the
    session then ends at the running max of event-time + own gap)."""
    w = F.session_window(ts_col, gap)
    agged = df.groupBy(w.alias("w"), *keys).agg(*aggs)
    return agged.select(
        *keys,
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        *_agg_names(agged, 1 + len(keys)),
    )


def with_watermark(df: DataFrame, delay: str, ts_col: str = "ts") -> DataFrame:
    """I4: bound state / drop late data. On a batch DataFrame this is an
    identity (Spark ignores watermarks in batch), preserving purity."""
    if df.isStreaming:
        return df.withWatermark(ts_col, delay)
    return df


def dedup_keys(df: DataFrame, keys: list[str]) -> DataFrame:
    """I5: exactly-once by key. Streaming keeps every seen key in state
    (use ``dedup_keys_within_watermark`` for bounded state at scale)."""
    return df.select(*keys).dropDuplicates(keys)


def dedup_keys_within_watermark(
    df: DataFrame, keys: list[str], delay: str, ts_col: str = "ts"
) -> DataFrame:
    """I5 (bounded-state variant): duplicates are only suppressed while
    their key is younger than the watermark — state is GC-able, the 100 TB
    path. Batch fallback: plain dropDuplicates (no watermark concept)."""
    if df.isStreaming:
        return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)


def enrich(stream_df: DataFrame, dim_df: DataFrame, on, how: str = "inner") -> DataFrame:
    """I7: stream-static join. The static side is re-planned per micro-batch
    and broadcast when small — dimension freshness comes for free."""
    return stream_df.join(F.broadcast(dim_df), on, how)


def _state_row(cols: dict):
    """One output row of an ``applyInPandasWithState`` function, in object
    columns. pyspark's state serializer appends an empty object-typed frame
    to every function output and ``pd.concat``s them; typed numeric or
    datetime columns then make pandas warn that empty entries will start to
    count toward the result dtype (FutureWarning, "DataFrame concatenation
    with empty or all-NA entries"). Object columns concatenate to object
    now and later, and Arrow converts them to the declared output schema.
    A naive timestamp is read as UTC."""
    import pandas as pd

    return pd.DataFrame({k: [v] for k, v in cols.items()}, dtype=object)


def running_totals_state(df: DataFrame, key: str = "user_id", value_col: str = "value"):
    """I6: arbitrary stateful per-key processing via applyInPandasWithState.

    Maintains (count, exact micro-unit total) per key and emits the updated
    running totals every micro-batch (update mode). The value total is
    accumulated in integer micros — order-independent and exact — so the
    final emission per key equals the batch aggregate bit-for-bit, which is
    what makes this oracle-checkable (take the last emission per key).
    """
    import pandas as pd  # noqa: F401  (worker-side import)
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = f"{key} bigint, n_events bigint, total_value double"
    state_schema = "n bigint, total_micros bigint"

    def fn(key_tuple, pdf_iter, state):
        n, micros = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            micros += sum_micros(pdf[value_col].to_numpy("float64"))
        state.update((int(n), int(micros)))
        yield _state_row(
            {key: key_tuple[0], "n_events": n, "total_value": round(micros / 1e6, 6)}
        )

    return df.groupBy(key).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def latest_state(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
):
    """I6 face: per-key LAST-WRITE tracker via applyInPandasWithState —
    the change-data-capture state machine (current value per meter). The
    winner is max (ts, id, quantized value) — the id tiebreak makes
    replays deterministic, and the value extends the key so even
    duplicate (ts, id) rows with different values resolve independently
    of batch row order (a 2-level key would leave the full-tie case
    to lexsort stability, i.e. arrival order). The state is three scalars
    per key, idempotent under replay. Values are assumed finite (meter
    readings); a NaN value would quantize to INT64_MIN and lose to any
    finite duplicate. Oracle: arg_max over the same lexicographic
    order."""
    import pandas as pd  # noqa: F401  (worker-side import)
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = f"{key} bigint, last_ts timestamp, last_value double"
    state_schema = "ts_us bigint, id bigint, micros bigint"

    def fn(key_tuple, pdf_iter, state):
        import pandas as pd

        import numpy as np

        ts_us, best_id, micros = state.get if state.exists else (None, None, None)
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            # normalize whatever datetime64 unit Arrow delivered to µs
            t = pdf[ts_col].values.astype("datetime64[us]").astype("int64")
            ids = pdf[id_col].to_numpy("int64")
            m = quantize_micros(pdf[value_col].to_numpy("float64"))
            # vectorized lexicographic argmax over (ts, id, micros) — no
            # per-row Python in the batch loop; micros in the key makes
            # full-(ts,id)-tie resolution order-independent rather than
            # lexsort-stability-dependent
            i = int(np.lexsort((m, ids, t))[-1])
            cand = (int(t[i]), int(ids[i]), int(m[i]))
            if ts_us is None or cand > (ts_us, best_id, micros):
                ts_us, best_id, micros = cand
        state.update((ts_us, best_id, micros))
        yield _state_row(
            {
                key: key_tuple[0],
                "last_ts": pd.Timestamp(ts_us * 1000),
                "last_value": round(micros / 1e6, 6),
            }
        )

    return df.groupBy(key).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def _agg_names(agged: DataFrame, n_grouping: int) -> list[str]:
    """Output names of the agg expressions of a ``groupBy(...).agg(...)``
    frame: every column after the ``n_grouping`` leading grouping columns.
    Schema-derived (public API) — no parsing of private JVM expression
    strings, stable across Spark versions."""
    return agged.columns[n_grouping:]


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    within: str,
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join (I-ext): right events within ``within`` AFTER
    the matching left event, same key. ``how`` extends to "left_outer":
    unmatched left rows emit with nulls — but ONLY once the watermark
    passes their join horizon (left_ts + within), so rows near the end
    of the stream whose horizon the final watermark (max event time −
    delay) never crosses are withheld forever. Callers wanting
    batch-equal outer results must bound the left side away from the
    stream's tail by at least watermark + within (see i12).

    Both sides carry watermarks plus a time-range join condition — the two
    requirements for Spark to bound join state (each side's buffer is GC'd
    once the other side's watermark passes the range). On batch inputs the
    same expression is a plain interval join, preserving the
    batch-equivalence test strategy.
    """
    l = left.alias("l")
    r = right.alias("r")
    if left.isStreaming:
        l = left.withWatermark(left_ts, watermark).alias("l")
    if right.isStreaming:
        r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, how)


def tiered_totals_state(
    df: DataFrame,
    key: str = "user_id",
    value_col: str = "value",
    b1_micros: int = 1_500_000_000,
    b2_micros: int = 3_500_000_000,
):
    """I6/K-ext: streaming progressive-tier accumulation — the stateful
    twin of the batch tiered-billing operator. Per-key state is ONE long
    (the exact micros running total); each micro-batch emission re-derives
    the tier split by clamping that total at the block boundaries, which
    is order-independent: the final allocation depends only on the final
    cumulative total, never on arrival order — exactly why the last
    emission per key is oracle-checkable against the batch LEAST/GREATEST
    split, bit-for-bit."""
    import pandas as pd  # noqa: F401  (worker-side import)
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        f"{key} bigint, n_events bigint, total_units double, "
        "t1_units double, t2_units double, t3_units double"
    )
    state_schema = "n bigint, total_micros bigint"

    def fn(key_tuple, pdf_iter, state):
        n, micros = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            micros += sum_micros(pdf[value_col].to_numpy("float64"))
        state.update((int(n), int(micros)))
        t1 = min(micros, b1_micros)
        t2 = min(micros, b2_micros) - t1
        t3 = max(0, micros - b2_micros)
        yield _state_row(
            {
                key: key_tuple[0],
                "n_events": n,
                "total_units": round(micros / 1e6, 6),
                "t1_units": round(t1 / 1e6, 6),
                "t2_units": round(t2 / 1e6, 6),
                "t3_units": round(t3 / 1e6, 6),
            }
        )

    return df.groupBy(key).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def extremes_state(df: DataFrame, key: str = "user_id", value_col: str = "value"):
    """I6 face: per-key running (min, max, count) in exact integer micros
    via applyInPandasWithState — the bounds-tracker state machine (e.g.
    sensor sanity envelopes), update mode. Unlike running_totals_state's
    sum, the extremes are idempotent under replay by construction."""
    import pandas as pd  # noqa: F401  (worker-side import)
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        f"{key} bigint, n_events bigint, min_value double, max_value double"
    )
    state_schema = "n bigint, mn bigint, mx bigint"

    def fn(key_tuple, pdf_iter, state):
        import numpy as np

        n, mn, mx = state.get if state.exists else (0, None, None)
        for pdf in pdf_iter:
            v = pdf[value_col].to_numpy("float64")
            # MIN/MAX skip NULLs (Arrow NaN) like SQL; inf cannot
            # quantize — raise rather than silently emitting INT64_MIN
            # (r9 review: astype('int64') on non-finite is UB-corruption)
            v = v[~np.isnan(v)]
            if np.isinf(v).any():
                raise ValueError(
                    "extremes_state: non-finite (inf) value cannot quantize"
                )
            micros = quantize_micros(v)
            if not len(micros):
                continue
            n += len(micros)
            bmn, bmx = int(micros.min()), int(micros.max())
            mn = bmn if mn is None else min(mn, bmn)
            mx = bmx if mx is None else max(mx, bmx)
        state.update((int(n), int(mn), int(mx)))
        yield _state_row(
            {
                key: key_tuple[0],
                "n_events": n,
                "min_value": round(mn / 1e6, 6),
                "max_value": round(mx / 1e6, 6),
            }
        )

    return df.groupBy(key).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
