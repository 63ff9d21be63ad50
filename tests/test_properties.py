"""Property-based tests (SURVEY.md §5.2(4)): algebraic invariants of the
K-layer operators cross-checked against pure-Python models on
hypothesis-generated micro-frames.

Spark job latency caps example counts (~10 per property, deadline off);
the oracle harness covers data-scale correctness, these cover edge-case
structure (empty frames, all-duplicate keys, single-row groups, ties).
"""

from __future__ import annotations

import datetime as dt
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from oeem_etl_spark.operators.relational import (
    dedupe_keep_latest,
    merge_upsert,
    topk_per_group,
)
from oeem_etl_spark.operators.timeseries import resample_interval, sessionize

SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

# (key, version, value) rows; small key space forces collisions.
kv_rows = st.lists(
    st.tuples(
        st.integers(0, 5),
        st.integers(0, 10),
        st.integers(-1000, 1000),
    ),
    min_size=0,
    max_size=25,
)


@given(target=kv_rows, delta=kv_rows)
@settings(**SETTINGS)
def test_merge_upsert_last_writer_wins(spark, target, delta):
    schema = "k long, v long, val long"
    t = spark.createDataFrame(target, schema) if target else spark.createDataFrame([], schema)
    d = spark.createDataFrame(delta, schema) if delta else spark.createDataFrame([], schema)
    merged = merge_upsert(t, d, ["k"])

    got_keys = {r["k"] for r in merged.select("k").distinct().collect()}
    want_keys = {r[0] for r in target} | {r[0] for r in delta}
    assert got_keys == want_keys

    delta_keys = {r[0] for r in delta}
    # every surviving row for a delta key must come from delta
    delta_rows = {tuple(r) for r in delta}
    target_rows = {tuple(r) for r in target}
    for row in merged.collect():
        tup = (row["k"], row["v"], row["val"])
        if row["k"] in delta_keys:
            assert tup in delta_rows
        else:
            assert tup in target_rows


@given(rows=kv_rows)
@settings(**SETTINGS)
def test_dedupe_keep_latest_idempotent_and_maximal(spark, rows):
    schema = "k long, v long, val long"
    df = spark.createDataFrame(rows, schema) if rows else spark.createDataFrame([], schema)
    order = [F.col("v").desc(), F.col("val").desc()]  # total order
    once = dedupe_keep_latest(df, keys=["k"], order_by=order)
    twice = dedupe_keep_latest(once, keys=["k"], order_by=order)
    got_once = sorted(map(tuple, once.collect()))
    got_twice = sorted(map(tuple, twice.collect()))
    assert got_once == got_twice  # idempotent

    # model: per key, keep max version (ties broken deterministically —
    # exactly one survivor per key, holding the max version)
    best: dict[int, int] = {}
    for k, v, _ in rows:
        best[k] = max(best.get(k, v), v)
    assert {r[0]: r[1] for r in got_once} == best


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 3),  # key
            st.integers(0, 72 * 3600 - 1),  # seconds offset within 3 days
            st.integers(1, 100),  # integer value (exact float sums)
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_resample_preserves_sum(spark, rows):
    base = dt.datetime(2024, 1, 1)
    data = [(k, base + dt.timedelta(seconds=s), float(v)) for k, s, v in rows]
    df = spark.createDataFrame(data, "k long, ts timestamp, value double")
    out = resample_interval(
        df, ["k"], "ts", "hour", [F.sum("value").alias("total")]
    )
    got = sum(r["total"] for r in out.collect())
    want = float(sum(v for _, _, v in rows))
    assert got == want  # integer-valued doubles sum exactly

    # bucket count per key never exceeds distinct hours present
    per_key_buckets = {
        (r["k"], r["bucket"]) for r in out.collect()
    }
    want_buckets = {(k, (base + dt.timedelta(seconds=s)).replace(minute=0, second=0)) for k, s, _ in rows}
    assert {(k, b) for k, b in per_key_buckets} == want_buckets


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 600)),  # key, minute offset
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_sessionize_matches_python_model(spark, rows):
    gap_min = 30
    base = dt.datetime(2024, 1, 1)
    data = [(k, base + dt.timedelta(minutes=m)) for k, m in rows]
    df = spark.createDataFrame(data, "k long, ts timestamp")
    out = sessionize(df, ["k"], "ts", gap_minutes=gap_min)
    got_sessions = (
        out.groupBy("k").agg(F.count_distinct("session_id").alias("n")).collect()
    )
    got = {r["k"]: r["n"] for r in got_sessions}

    model: dict[int, int] = {}
    by_key: dict[int, list[int]] = {}
    for k, m in rows:
        by_key.setdefault(k, []).append(m)
    for k, ms in by_key.items():
        ms.sort()
        n = 1
        for a, b in zip(ms, ms[1:]):
            if (b - a) > gap_min:
                n += 1
        model[k] = n
    assert got == model


@given(rows=kv_rows, k=st.integers(1, 4))
@settings(**SETTINGS)
def test_topk_per_group_bounds(spark, rows, k):
    schema = "g long, v long, val long"
    df = spark.createDataFrame(rows, schema) if rows else spark.createDataFrame([], schema)
    out = topk_per_group(
        df, partition_by=["g"], order_by=[F.col("v").desc(), F.col("val").desc()], k=k
    ).collect()
    # ≤ k rows per group, and each group's rows are its top-k by v
    by_g: dict[int, list[int]] = {}
    for g, v, _ in rows:
        by_g.setdefault(g, []).append(v)
    got_by_g: dict[int, list[int]] = {}
    for r in out:
        got_by_g.setdefault(r["g"], []).append(r["v"])
    for g, vs in got_by_g.items():
        assert len(vs) <= k
        assert sorted(vs, reverse=True) == sorted(by_g[g], reverse=True)[: len(vs)]
    for g, vs in by_g.items():
        assert len(got_by_g.get(g, [])) == min(k, len(vs))


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 120), st.integers(1, 50)),
        min_size=1,
        max_size=20,
    ),
    freq=st.sampled_from(["hour", "day", "month"]),
)
@settings(**SETTINGS)
def test_fill_gaps_dense_and_sum_preserving(spark, rows, freq):
    """fill_gaps: the grid is dense (every bucket between each key's min and
    max present exactly once) and non-null values are preserved."""
    import datetime as dt

    from oeem_etl_spark.operators.timeseries import fill_gaps, resample_interval

    base = dt.datetime(2024, 1, 1)
    step = {"hour": dt.timedelta(hours=1), "day": dt.timedelta(days=1)}.get(freq)
    data = []
    for k, off, v in rows:
        ts = (
            base + step * off
            if step
            else dt.datetime(2024 + (off // 12) % 3, off % 12 + 1, 1)
        )
        data.append((k, ts, float(v)))
    df = spark.createDataFrame(data, "k long, ts timestamp, value double")
    bucketed = resample_interval(df, ["k"], "ts", freq, [F.sum("value").alias("v")])
    dense = fill_gaps(bucketed, ["k"], "bucket", "v", freq=freq, forward_fill=False)

    out = dense.collect()
    # per key: bucket count == span/step + 1, each bucket exactly once
    per_key: dict[int, list] = {}
    for r in out:
        per_key.setdefault(r["k"], []).append(r["bucket"])
    for k, buckets in per_key.items():
        assert len(buckets) == len(set(buckets))
        lo, hi = min(buckets), max(buckets)
        if step:
            expect = int((hi - lo) / step) + 1
        else:
            expect = (hi.year - lo.year) * 12 + (hi.month - lo.month) + 1
        assert len(buckets) == expect, (k, freq, len(buckets), expect)
    # value preservation
    total_in = sum(v for _, _, v in data)
    total_out = sum(r["v"] for r in out if r["v"] is not None)
    assert total_in == total_out


# ---------------------------------------------------------------------------
# history + corpus operator invariants
# ---------------------------------------------------------------------------

event_rows = st.lists(
    st.tuples(
        st.integers(0, 3),  # key
        st.integers(0, 20),  # day offset -> ts
        st.sampled_from(["a", "b", "c"]),  # value
    ),
    min_size=0,
    max_size=20,
)


@given(rows=event_rows)
@settings(**SETTINGS)
def test_scd2_current_rows_equal_keep_latest(spark, rows):
    """The is_current SCD2 row per key must carry the same value as a
    plain dedupe-keep-latest over the change stream."""
    from oeem_etl_spark.operators.history import scd2_from_events
    from oeem_etl_spark.operators.relational import dedupe_keep_latest_by

    uniq = {}
    for k, day, v in rows:
        uniq[(k, day)] = (k, dt.datetime(2024, 1, 1) + dt.timedelta(days=day), v)
    data = sorted(uniq.values(), key=lambda r: (r[0], r[1]))
    schema = "k long, ts timestamp, v string"
    df = spark.createDataFrame(data, schema) if data else spark.createDataFrame([], schema)

    hist = scd2_from_events(df, "k", "ts", ["v"])
    current = {
        r["k"]: r["v"] for r in hist.where(F.col("is_current")).collect()
    }
    latest = {
        r["k"]: r["v"]
        for r in dedupe_keep_latest_by(df, ["k"], ["ts"]).collect()
    }
    assert current == latest
    # validity intervals tile without overlap: versions per key are
    # consecutive and each non-current valid_to equals the next valid_from
    for k in current:
        vers = sorted(
            (r["version"], r["valid_from"], r["valid_to"])
            for r in hist.where(F.col("k") == k).collect()
        )
        assert [v[0] for v in vers] == list(range(1, len(vers) + 1))
        for (_, _, to_a), (_, from_b, _) in zip(vers, vers[1:]):
            assert to_a == from_b
        assert vers[-1][2] is None


# Nullable values: updates that set a column to NULL must emit NULL (a
# coalesce(new, old) projection would leak the stale old value).
nullable_kv_rows = st.lists(
    st.tuples(
        st.integers(0, 5),
        st.integers(0, 10),
        st.one_of(st.none(), st.integers(-1000, 1000)),
    ),
    min_size=0,
    max_size=25,
)


@given(old=nullable_kv_rows, new=nullable_kv_rows)
@settings(**SETTINGS)
def test_diff_snapshots_applies_back_to_new(spark, old, new):
    """Applying the CDC diff to the old snapshot reproduces the new one:
    old - deletes - updates + (updates ∪ inserts with new values) == new."""
    from oeem_etl_spark.operators.history import diff_snapshots

    o_map = {k: val for k, _, val in old}
    n_map = {k: val for k, _, val in new}
    schema = "k long, v long"
    o = spark.createDataFrame(sorted(o_map.items()), schema) if o_map else spark.createDataFrame([], schema)
    n = spark.createDataFrame(sorted(n_map.items()), schema) if n_map else spark.createDataFrame([], schema)

    changes = {
        r["k"]: (r["change"], r["v"])
        for r in diff_snapshots(o, n, "k", ["v"]).collect()
    }
    applied = dict(o_map)
    for k, (change, v) in changes.items():
        if change == "delete":
            applied.pop(k)
        else:
            applied[k] = v
    assert applied == n_map


@given(
    toks=st.lists(st.integers(1, 300), min_size=0, max_size=20),
    budget=st.integers(50, 400),
)
@settings(**SETTINGS)
def test_pack_sequences_offsets_conserve_tokens(spark, toks, budget):
    """start_offset is the exact prefix sum; pack ids are non-decreasing
    and every pack below the last is 'full' (next doc starts in a later or
    equal pack)."""
    from oeem_etl_spark.operators.corpus import pack_sequences

    data = [(i, t) for i, t in enumerate(toks)]
    schema = "doc_id long, n_tokens int"
    df = spark.createDataFrame(data, schema) if data else spark.createDataFrame([], schema)
    got = sorted(
        (r["doc_id"], r["start_offset"], r["pack_id"])
        for r in pack_sequences(df, "doc_id", "n_tokens", budget=budget).collect()
    )
    prefix = 0
    prev_pack = 0
    for (i, off, pack) in got:
        assert off == prefix
        assert pack == off // budget
        assert pack >= prev_pack
        prefix += toks[i]
        prev_pack = pack


# --- dsum overflow guard (plans/util.py) -------------------------------------

import pytest
from pyspark.errors.exceptions.captured import (
    ArithmeticException,
    SparkRuntimeException,
)

from oeem_etl_spark.plans.util import davg, dsum, dsum_decimal


@pytest.fixture
def non_ansi(spark):
    """Temporarily flip the session to legacy non-ANSI semantics."""
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        yield spark
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")


def test_dsum_overflow_raises_under_ansi(spark):
    """3 × 4e18 micros exceeds 2^63: under ANSI (pinned in session.py) the
    long accumulation itself raises — an out-of-range dsum is an error,
    never a silently wrapped value. The decimal path stays exact."""
    v = 4e12  # scale 6 → micros = 4e18 each
    df = spark.createDataFrame([(v,), (v,), (v,)], "x double")
    with pytest.raises(ArithmeticException, match="ARITHMETIC_OVERFLOW"):
        df.agg(dsum("x", "s")).collect()
    with pytest.raises(ArithmeticException, match="ARITHMETIC_OVERFLOW"):
        df.agg(davg("x", "a")).collect()
    assert df.agg(dsum_decimal("x", "s")).collect()[0]["s"] == 3 * v


def test_dsum_guard_arms_on_non_ansi_session(non_ansi):
    """On a legacy non-ANSI session the long sum would wrap silently; the
    checked probe (max·count bound riding the same aggregate) turns that
    into a loud error, while checked=False demonstrates the wrap the guard
    exists to catch."""
    spark = non_ansi
    v = 4e12
    df = spark.createDataFrame([(v,), (v,), (v,)], "x double")
    with pytest.raises(SparkRuntimeException, match="overflow risk"):
        df.agg(dsum("x", "s")).collect()
    with pytest.raises(SparkRuntimeException, match="overflow risk"):
        df.agg(davg("x", "a")).collect()

    wrapped = df.agg(dsum("x", "s", checked=False)).collect()[0]["s"]
    exact = df.agg(dsum_decimal("x", "s")).collect()[0]["s"]
    assert exact == 3 * v
    assert wrapped != exact  # the silent wrap

    # per-group: one safe group + one hot group still raises (all-or-nothing
    # job failure — the safe value is never paired with garbage)
    rows = [("safe", 1.5), ("safe", 2.5)] + [("hot", v)] * 3
    gdf = spark.createDataFrame(rows, "g string, x double")
    with pytest.raises(SparkRuntimeException, match="overflow risk"):
        gdf.groupBy("g").agg(dsum("x", "s")).collect()
    ok = gdf.filter("g = 'safe'").groupBy("g").agg(dsum("x", "s")).collect()
    assert ok[0]["s"] == 4.0


@given(
    micros=st.lists(
        st.integers(-8 * 10**11, 8 * 10**11), min_size=1, max_size=8
    )
)
@settings(**SETTINGS)
def test_dsum_micros_path_matches_decimal_path(spark, micros):
    """In the documented lossless domain (values with ≤6dp whose micros are
    double-exact), the fast integer-micros path and the overflow-checked
    decimal path agree bit-exactly. Out-of-range magnitudes are covered by
    the deterministic overflow tests above: they raise, never wrap."""
    vals = [m / 1e6 for m in micros]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    fast = df.agg(dsum("x", "s")).collect()[0]["s"]
    exact = df.agg(dsum_decimal("x", "s")).collect()[0]["s"]
    assert fast == exact


@given(
    ivs=st.lists(
        st.tuples(
            st.dates(dt.date(2020, 1, 1), dt.date(2026, 12, 1)),
            st.integers(0, 400),  # interval length in days
            st.integers(0, 10_000_00),  # value in hundredths
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(**SETTINGS)
def test_calendarize_conservation(spark, ivs):
    """Invariants of the exact fixed-point proration: per interval, (a)
    overlap_days across months sum exactly to total_days; (b) allocations
    never overshoot the value; (c) the floor-truncation deficit is less
    than 1e-4 per month touched."""
    from oeem_etl_spark.operators.timeseries import calendarize

    rows = [
        (i, s, s + dt.timedelta(days=n), cents / 100.0)
        for i, (s, n, cents) in enumerate(ivs)
    ]
    df = spark.createDataFrame(rows, "k long, s date, e date, v double")
    out = calendarize(df, "s", "e", "v", keys=["k"]).collect()
    by_k: dict[int, list] = {}
    for r in out:
        by_k.setdefault(r["k"], []).append(r)
    for i, (s, n, cents) in enumerate(ivs):
        parts = by_k[i]
        v = cents / 100.0
        assert sum(p["overlap_days"] for p in parts) == n + 1 == parts[0]["total_days"]
        alloc = sum(p["v_alloc"] for p in parts)
        assert alloc <= v + 1e-9
        assert v - alloc < len(parts) * 1e-4 + 1e-9


# ---------------------------------------------------------------------------
# Codec round-trip properties (operators/imagecodec.py) — pure numpy, no
# Spark session, so example counts can be generous.
# ---------------------------------------------------------------------------

import numpy as np  # noqa: E402

from oeem_etl_spark.operators import imagecodec as ic  # noqa: E402
from oeem_etl_spark.operators import multimodal as mm  # noqa: E402

img_dims = st.tuples(st.integers(1, 24), st.integers(1, 24))


@given(dims=img_dims, chans=st.sampled_from([1, 3, 4]), seed=st.integers(0, 2**31))
@settings(max_examples=60, deadline=None)
def test_png_roundtrip_lossless_property(dims, chans, seed):
    h, w = dims
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, chans), dtype=np.uint8)
    got_w, got_h, got = ic.decode_png(ic.encode_png(px))
    assert (got_w, got_h) == (w, h)
    assert np.array_equal(got, px)


@given(
    dims=img_dims,
    seed=st.integers(0, 2**31),
    quality=st.integers(50, 98),
    rst=st.sampled_from([0, 1, 3]),
    sub=st.booleans(),
)
@settings(max_examples=40, deadline=None)
def test_jpeg_roundtrip_bounded_error_property(dims, seed, quality, rst, sub):
    """JPEG decode(encode(x)) must (a) preserve dims exactly, (b) keep
    smooth-content error bounded, (c) be insensitive to restart markers."""
    h, w = dims
    rng = np.random.default_rng(seed)
    # Smooth content (low-frequency): block-DC-dominated, so error stays
    # small at any quality; pure noise is the known worst case for DCT.
    # CLIP, don't wrap: a % 256 gradient can put a 255->0 seam mid-image —
    # maximal high-frequency content, which on a tiny image dominates the
    # mean (hypothesis found 5x3/q50/4:2:0 at 32.6) and tests the content
    # pathology, not the codec.
    base = rng.integers(0, 256, size=3)
    yy, xx = np.mgrid[0:h, 0:w]
    px = np.stack(
        [np.clip(base[c] + 2 * xx + 3 * yy, 0, 255) for c in range(3)], axis=2
    ).astype(np.uint8)
    data = ic.encode_jpeg(px, quality=quality, restart_interval=rst, subsample=sub)
    got_w, got_h, got = ic.decode_jpeg(data)
    assert (got_w, got_h) == (w, h)
    # Loose mean bound that still catches structural bugs (channel swap ~85).
    assert np.abs(got.astype(int) - px.astype(int)).mean() < 30.0
    if rst:
        _, _, plain = ic.decode_jpeg(
            ic.encode_jpeg(px, quality=quality, subsample=sub)
        )
        assert np.array_equal(got, plain)


@given(dims=img_dims, seed=st.integers(0, 2**31))
@settings(max_examples=30, deadline=None)
def test_decode_image_sniffs_consistently_property(dims, seed):
    """decode_image must route every supported container to a decoder that
    agrees with the PPM ground truth (PNG exactly, JPEG within tolerance)."""
    h, w = dims
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    for payload, exact in [
        (mm.encode_ppm(px), True),
        (ic.encode_png(px), True),
        (ic.encode_jpeg(px, quality=95), False),
    ]:
        got_w, got_h, got = mm.decode_image(payload)
        assert (got_w, got_h) == (w, h)
        if exact:
            assert np.array_equal(got, px)
        else:
            assert got.shape == px.shape


@given(
    words=st.lists(
        st.text(alphabet="abcX", min_size=0, max_size=5), min_size=1, max_size=12
    )
)
@settings(**SETTINGS)
def test_fuzzy_join_equals_bruteforce_levenshtein(spark, words):
    """fuzzy_join is EXACTLY the distance-≤1 relation: same pair set as a
    brute-force cross levenshtein on arbitrary strings (tiny alphabet
    maximizes collisions/edge shapes: empties, repeats, equal strings)."""
    from oeem_etl_spark.operators.text import fuzzy_join

    def lev(a: str, b: str) -> int:
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rows = [(i, w) for i, w in enumerate(words)]
    left = spark.createDataFrame(rows, "a_id long, a_s string")
    right = spark.createDataFrame(rows, "b_id long, b_s string")
    for max_dist in (1, 2):
        got = {
            (r["a_id"], r["b_id"])
            for r in fuzzy_join(left, right, "a_s", "b_s", max_dist=max_dist).collect()
        }
        want = {
            (i, j)
            for i, wi in rows
            for j, wj in rows
            if lev(wi, wj) <= max_dist
        }
        assert got == want, max_dist


@given(
    obs=st.dictionaries(
        st.integers(min_value=0, max_value=12),  # day offsets
        st.floats(min_value=-100, max_value=100, allow_nan=False, width=16),
        min_size=1,
        max_size=6,
    )
)
@settings(**SETTINGS)
def test_interpolate_gaps_model_equivalence(spark, obs):
    """interpolate_gaps vs a pure-Python fixed-point model: observed rows
    pass through exactly; gap rows equal prev + trunc((next-prev)·i/n)
    at 1e-6 fixed point (covers negative values and negative slopes)."""
    from oeem_etl_spark.operators.timeseries import interpolate_gaps

    base = dt.datetime(2024, 3, 1)
    rows = [
        ("k", base + dt.timedelta(days=d), float(v)) for d, v in sorted(obs.items())
    ]
    df = spark.createDataFrame(rows, "k string, bucket timestamp, v double")
    got = {
        r["bucket"]: (r["v"], r["was_gap"])
        for r in interpolate_gaps(df, ["k"], "bucket", "v").collect()
    }
    days = sorted(obs)
    # Half-AWAY-from-zero quantization, matching Spark/DuckDB ROUND (see
    # plans/util.py rounding-parity note) — Python's round() is banker's
    # and diverges on exact .5 ties (e.g. 1.0703125e6), which width-16
    # floats can hit exactly.
    fp = {
        d: int(math.copysign(math.floor(abs(obs[d]) * 1e6 + 0.5), obs[d]))
        for d in days
    }
    lo, hi = days[0], days[-1]
    assert len(got) == hi - lo + 1
    for d in range(lo, hi + 1):
        ts = base + dt.timedelta(days=d)
        if d in obs:
            assert got[ts] == (round(fp[d] / 1e6, 6), False)
            continue
        p = max(x for x in days if x < d)
        nx = min(x for x in days if x > d)
        numer = (fp[nx] - fp[p]) * (d - p)
        n = nx - p
        # trunc-toward-zero division (Spark/DuckDB dividend-signed %)
        q = abs(numer) // n if numer >= 0 else -(abs(numer) // n)
        interp = fp[p] + q
        assert got[ts] == (round(interp / 1e6, 6), True)


@given(
    cell=st.sampled_from([50, 100, 300, 1000]),
    seed=st.integers(0, 2**31),
    n_pts=st.integers(5, 40),
    n_sites=st.integers(1, 10),
)
@settings(**SETTINGS)
def test_grid_nn_matches_bruteforce_property(spark, cell, seed, n_pts, n_sites):
    """grid_nn_join equals brute force for ANY geometry and cell size —
    including cells far smaller than typical nearest distances (mostly
    fallback) and far larger (single-cell, all-candidate)."""
    import numpy as np

    from oeem_etl_spark.operators.spatial import grid_nn_join

    rng = np.random.default_rng(seed)
    pts = [
        (i, int(rng.integers(-1500, 1500)), int(rng.integers(-1500, 1500)))
        for i in range(n_pts)
    ]
    sites = [
        (j, int(rng.integers(-1500, 1500)), int(rng.integers(-1500, 1500)))
        for j in range(n_sites)
    ]
    p = spark.createDataFrame(pts, "pk long, x long, y long")
    s = spark.createDataFrame(sites, "sk long, x long, y long")
    got = {
        r["pk"]: (r["nearest_site"], r["d2"])
        for r in grid_nn_join(p, s, "pk", "sk", cell=cell).collect()
    }
    for i, x, y in pts:
        want = min(((x - sx) ** 2 + (y - sy) ** 2, sk) for sk, sx, sy in sites)
        assert got[i] == (want[1], want[0]), (i, cell)


@given(
    target=kv_rows,
    feed=st.lists(
        st.tuples(
            st.integers(0, 5),      # key
            st.integers(-1000, 1000),  # value
            st.sampled_from(["I", "U", "D"]),
            st.integers(0, 10),     # seq
        ),
        min_size=0,
        max_size=25,
    ),
)
@settings(**SETTINGS)
def test_apply_cdc_matches_python_replay(spark, target, feed):
    """apply_cdc == a naive per-key replay: latest seq wins (ties broken
    by Spark's window arbitrary order — so restrict the model check to
    keys whose max seq is unique), D removes, I/U upsert."""
    from oeem_etl_spark.operators.relational import apply_cdc

    # dedupe target to one row per key (apply_cdc presumes keyed target)
    tgt = {}
    for k, _s, v in target:
        tgt[k] = v
    tdf = (
        spark.createDataFrame([(k, v) for k, v in tgt.items()], "id long, v long")
        if tgt
        else spark.createDataFrame([], "id long, v long")
    )
    fdf = (
        spark.createDataFrame(feed, "id long, v long, op string, seq int")
        if feed
        else spark.createDataFrame([], "id long, v long, op string, seq int")
    )
    got = {r["id"]: r["v"] for r in apply_cdc(tdf, fdf, ["id"]).collect()}

    # python model: per key, the candidate set tied at max seq. apply_cdc
    # picks ONE unspecified winner row from that set (documented contract),
    # so the check is membership-based for tied keys:
    #   all candidates D            -> key absent
    #   no candidate D              -> key present, value from a candidate
    #   mixed D / non-D candidates  -> presence unspecified; if present,
    #                                  the value must come from a non-D row
    maxseq: dict[int, int] = {}
    cands: dict[int, list[tuple[int, str]]] = {}
    for k, v, op, seq in feed:
        if k not in maxseq or seq > maxseq[k]:
            maxseq[k] = seq
            cands[k] = [(v, op)]
        elif seq == maxseq[k]:
            cands[k].append((v, op))
    for k in set(tgt) | set(cands) | set(got):
        if k in cands:
            vals = [v for v, op in cands[k] if op != "D"]
            has_d = any(op == "D" for _v, op in cands[k])
            if not vals:  # every tied candidate deletes
                assert k not in got, (k, got.get(k))
            elif has_d:  # winner could be the delete or an upsert
                assert k not in got or got[k] in vals, (k, got.get(k), vals)
            else:  # winner is some upsert
                assert k in got and got[k] in vals, (k, got.get(k), vals)
        else:
            assert got.get(k) == tgt.get(k), (k, got.get(k), tgt.get(k))


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),          # group
            st.integers(0, 50),         # value
            st.integers(1, 9),          # weight
        ),
        min_size=1,
        max_size=30,
    ),
    q=st.sampled_from([(1, 2), (1, 4), (9, 10)]),
)
@settings(**SETTINGS)
def test_weighted_quantile_matches_python_model(spark, rows, q):
    from oeem_etl_spark.operators.relational import weighted_quantile

    num, den = q
    df = spark.createDataFrame(rows, "g int, v int, w int")
    got = {r["g"]: r["v"] for r in weighted_quantile(df, ["g"], "v", "w", num, den).collect()}
    groups: dict[int, list[tuple[int, int]]] = {}
    for g, v, w in rows:
        groups.setdefault(g, []).append((v, w))
    for g, vw in groups.items():
        tot = sum(w for _v, w in vw)
        cum = 0
        expect = None
        for v, w in sorted(vw):
            cum += w
            if cum * den >= tot * num:
                expect = v
                break
        assert got[g] == expect, (g, got[g], expect)


@given(
    totals=st.lists(st.integers(0, 6_000), min_size=1, max_size=12),
)
@settings(**SETTINGS)
def test_tier_allocation_conserves_and_bounds(spark, totals):
    """k40's clamp algebra: per-row tier allocations are non-negative,
    sum to the row amount, and cumulative tier-1/2 totals never exceed
    their block widths."""
    from pyspark.sql import Window

    rows = [(1, i, float(t)) for i, t in enumerate(totals)]
    df = spark.createDataFrame(rows, "k int, seq int, amt double")
    b1, b2 = 1_500_000_000, 3_500_000_000
    um = F.round(F.col("amt") * 1_000_000).cast("long")
    w = (
        Window.partitionBy("k").orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m = df.select("k", "seq", um.alias("um")).withColumn(
        "cum", F.sum("um").over(w)
    )
    cb = F.col("cum") - F.col("um")
    t1 = F.least(F.col("cum"), F.lit(b1)) - F.least(cb, F.lit(b1))
    t2 = F.least(F.col("cum"), F.lit(b2)) - F.least(cb, F.lit(b2)) - t1
    t3 = F.greatest(F.col("cum") - b2, F.lit(0)) - F.greatest(cb - b2, F.lit(0))
    out = m.select("um", t1.alias("t1"), t2.alias("t2"), t3.alias("t3")).collect()
    for r in out:
        assert r["t1"] >= 0 and r["t2"] >= 0 and r["t3"] >= 0
        assert r["t1"] + r["t2"] + r["t3"] == r["um"]
    assert sum(r["t1"] for r in out) <= b1
    assert sum(r["t2"] for r in out) <= b2 - b1


# --- VP8 boolean coder (no Spark: pure entropy-layer invariant) -------------


@given(
    st.lists(
        st.tuples(st.integers(0, 1), st.integers(1, 255)),
        min_size=0,
        max_size=400,
    )
)
@settings(max_examples=200, deadline=None)
def test_vp8_bool_coder_roundtrips_any_sequence(seq):
    from oeem_etl_spark.operators.vp8codec import BoolDecoder, BoolEncoder

    enc = BoolEncoder()
    for bit, prob in seq:
        enc.write(bit, prob)
    dec = BoolDecoder(enc.flush())
    assert [dec.read(prob) for _, prob in seq] == [bit for bit, _ in seq]


@given(st.lists(st.integers(-2114, 2114), min_size=0, max_size=16))
@settings(max_examples=150, deadline=None)
def test_vp8_token_layer_roundtrips_any_block(coeffs):
    import numpy as np

    from oeem_etl_spark.operators import vp8codec as v

    q = np.zeros(16, np.int64)
    q[: len(coeffs)] = coeffs
    be = v.BoolEncoder()
    v._encode_coeffs(be, v.TABLES["coeff_probs"], 3, 0, 0, q)
    bd = v.BoolDecoder(be.flush())
    got = v._decode_coeffs(bd, v.TABLES["coeff_probs"], 3, 0, 0)
    assert np.array_equal(got, q)


@given(
    keys=st.lists(
        st.integers(-(2**63), 2**63 - 1), min_size=1, max_size=40, unique=True
    )
)
@settings(**SETTINGS)
def test_xxh64_sql_twin_matches_spark(spark, keys):
    """The DuckDB XXH64 CTE (_xxh64_long_cte — the l29b oracle's seed-
    draw primitive) must equal F.xxhash64(bigint) BIT-FOR-BIT over the
    full signed-64 domain, including negatives and the extremes —
    hypothesis drives the fuzz, Spark is the reference."""
    import duckdb

    from oeem_etl_spark.plans.llm_queries import _xxh64_long_cte

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    want = {r["k"]: r["h"] for r in df.select("k", F.xxhash64("k").alias("h")).collect()}

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ",".join(f"(CAST({k} AS BIGINT))" for k in keys)
        + ") v(k)"
    )
    got = dict(
        con.sql(
            f"WITH src AS (SELECT k FROM t), {_xxh64_long_cte('src', 'k')} "
            "SELECT k, xxh FROM x8"
        ).fetchall()
    )
    assert got == want
