"""Unit tests for operators/layout.py (Z-order clustering)."""

from __future__ import annotations

from pyspark.sql import functions as F

from oeem_etl_spark.operators.layout import zorder_key, zorder_layout


def _morton(xs: list[int], bits: int) -> int:
    d = len(xs)
    z = 0
    for i, x in enumerate(xs):
        for j in range(bits):
            z |= ((x >> j) & 1) << (j * d + i)
    return z


def test_zorder_key_matches_bitwise_reference(spark):
    rows = [(x, y) for x in [0, 1, 2, 3, 7, 100, 255] for y in [0, 1, 5, 254, 255]]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.withColumn("z", zorder_key(["x", "y"], bits=8)).collect()
    }
    for x, y in rows:
        assert got[(x, y)] == _morton([x, y], 8), (x, y)


def test_zorder_key_three_dims(spark):
    rows = [(1, 2, 3), (7, 0, 5), (15, 15, 15)]
    df = spark.createDataFrame(rows, "a long, b long, c long")
    got = [
        r["z"]
        for r in df.withColumn("z", zorder_key(["a", "b", "c"], bits=4)).collect()
    ]
    assert got == [_morton(list(r), 4) for r in rows]


def test_zorder_layout_partitions_own_disjoint_ranges(spark):
    # after layout, every output partition's [min z, max z] is disjoint —
    # the property that makes per-file stats prune on either column
    rows = [(x, y) for x in range(32) for y in range(32)]
    df = spark.createDataFrame(rows, "x long, y long")
    out = zorder_layout(df, ["x", "y"], bits=5, files=8)
    per = (
        out.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.min("__z").alias("lo"), F.max("__z").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(per) > 1
    for a, b in zip(per, per[1:]):
        assert a["hi"] < b["lo"]


def test_zorder_key_rejects_64bit_overflow():
    # 4 cols x 16 bits puts a bit at position 63 — signed-long overflow in
    # Spark, HUGEINT widening in DuckDB (cross-engine divergence). Both
    # builders must refuse loudly.
    import pytest

    from oeem_etl_spark.operators.layout import sql_zorder_key

    with pytest.raises(ValueError, match="63"):
        zorder_key(["a", "b", "c", "d"], bits=16)
    with pytest.raises(ValueError, match="63"):
        sql_zorder_key(["a", "b", "c", "d"], bits=16)
    # 63 bits exactly is fine (bit positions 0..62)
    zorder_key(["a", "b", "c"], bits=21)
    assert "BIGINT" in sql_zorder_key(["a", "b", "c"], bits=21)


def _py_hilbert(x, y, bits):
    n = 1 << bits
    d = 0
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        rx = (x // s) % 2
        ry = (y // s) % 2
        d += s * s * (3 * rx + ry - 2 * rx * ry)
        if ry == 0:
            if rx == 1:
                x, y = (n - 1) - y, (n - 1) - x
            else:
                x, y = y, x
    return d


def test_hilbert_key_bijective_and_adjacent(spark):
    # THE Hilbert property (what Z-order lacks): consecutive indices are
    # always grid neighbors; and the mapping is a bijection
    from oeem_etl_spark.operators.layout import hilbert_key_2d, with_hilbert_key

    bits, n = 4, 16
    rows = [(x * n + y, x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(rows, "k long, x long, y long")
    got = {
        r["k"]: r["h"]
        for r in with_hilbert_key(df, "x", "y", bits=bits).collect()
    }
    assert got == {x * n + y: _py_hilbert(x, y, bits)
                   for x in range(n) for y in range(n)}
    pos = {h: divmod(k, n) for k, h in got.items()}
    assert len(pos) == n * n
    for d in range(n * n - 1):
        (x1, y1), (x2, y2) = pos[d], pos[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, d
    # the single-Column form agrees where it is allowed (bits <= 6)
    got2 = {
        r["k"]: r["h"]
        for r in df.withColumn("h", hilbert_key_2d("x", "y", bits=4)).collect()
    }
    assert got2 == got


def test_hilbert_column_form_rejects_deep_unroll():
    import pytest

    from oeem_etl_spark.operators.layout import hilbert_key_2d

    with pytest.raises(ValueError, match="with_hilbert_key"):
        hilbert_key_2d("x", "y", bits=8)


def test_hilbert_plan_stays_linear(spark):
    # with_hilbert_key at bits=8 must produce a plan Catalyst can hold:
    # 256x256 grid, single map stage, no shuffle
    from oeem_etl_spark.operators.layout import with_hilbert_key

    df = spark.range(1000).select(
        (F.col("id") % 256).alias("x"), ((F.col("id") * 7) % 256).alias("y")
    )
    out = with_hilbert_key(df, "x", "y", bits=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert out.count() == 1000


def test_hilbert_prunes_box_queries_better_than_zorder(spark):
    """The reason Hilbert exists next to Z-order: with files laid out by
    each key (30 rank-buckets over a 256x256 grid), min/max file
    stats under 16 box predicates (32x32 quadrant corners) must touch
    MEANINGFULLY fewer files in the Hilbert layout — Z-shape jumps give
    Morton files wide bounding boxes, unit-step locality gives Hilbert
    files tight ones. Measured 30 vs 51 on this fixture; asserted with
    margin."""
    from oeem_etl_spark.operators.layout import with_hilbert_key, zorder_key

    df = spark.range(256 * 256).select(
        (F.col("id") / 256).cast("long").alias("cx"),
        (F.col("id") % 256).alias("cy"),
    )

    def file_stats(keyed, key):
        # bucket by EXACT key rank, not repartitionByRange: the range
        # exchange's sampled boundaries plus AQE partition coalescing
        # made the file split environment-sensitive (observed flaking
        # once under heavy concurrent load in r7) — ntile over the key
        # order is the same layout split, deterministically. 30 buckets
        # (not 32): 65536/32 aligns every file exactly to whole Morton
        # blocks, which hides the Z-jump wide-box pathology the test
        # exists to demonstrate; real file splits don't align either.
        from pyspark.sql import Window

        parts = (
            keyed.select(
                "cx", "cy",
                F.ntile(30).over(Window.orderBy(key)).alias("pid"),
            )
            .groupBy("pid")
            .agg(
                F.min("cx").alias("x0"), F.max("cx").alias("x1"),
                F.min("cy").alias("y0"), F.max("cy").alias("y1"),
            )
        )
        return [(r["x0"], r["x1"], r["y0"], r["y1"]) for r in parts.collect()]

    hil = file_stats(with_hilbert_key(df, "cx", "cy", bits=8, out="h"), "h")
    zor = file_stats(df.withColumn("z", zorder_key(["cx", "cy"], bits=8)), "z")
    boxes = [(a, a + 31, b, b + 31) for a in range(0, 256, 64)
             for b in range(0, 256, 64)]

    def touched(stats, box):
        a, b, c, d = box
        return sum(
            1 for x0, x1, y0, y1 in stats
            if not (x1 < a or x0 > b or y1 < c or y0 > d)
        )

    th = sum(touched(hil, x) for x in boxes)
    tz = sum(touched(zor, x) for x in boxes)
    assert th < 0.8 * tz, (th, tz)


def test_hilbert_rejects_64bit_overflow(spark):
    """bits > 31 puts the [0, 4^bits) Hilbert key past signed-64 — both
    the DataFrame and SQL builders must refuse loudly (same contract as
    zorder's _check_width)."""
    import pytest

    from oeem_etl_spark.operators.layout import sql_hilbert_cte, with_hilbert_key

    df = spark.createDataFrame([(1, 2)], "x long, y long")
    with pytest.raises(ValueError, match="31"):
        with_hilbert_key(df, "x", "y", bits=32)
    with pytest.raises(ValueError, match="31"):
        sql_hilbert_cte("t", "k", "x", "y", bits=32)
    # 31 bits exactly is fine (key spans [0, 2^62))
    with_hilbert_key(df, "x", "y", bits=31)
