"""Sanity bounds for rows-only declared ops (SURVEY.md §7.4 trap #5):
approximate sketches and RNG sampling can't hash-match an oracle, so each
is checked against its exact equivalent here."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oeem_etl_spark.catalog import load_table
from oeem_etl_spark.plans.misc_queries import (
    b8_sample,
    d7_approx_percentile,
    d8_approx_count_distinct,
)


def test_sample_fraction_bounds(spark, sf_dir):
    n_total = load_table(spark, sf_dir, "lineitem").count()
    n = b8_sample(spark, sf_dir).count()
    assert 0.07 * n_total < n < 0.13 * n_total  # Bernoulli(0.1) ± slack


def test_engine_rng_sample_bounds(spark, sf_dir):
    # b8_sample is now the hash-Bernoulli (oracle-checked); the engine-RNG
    # .sample() path keeps statistical + same-seed coverage here.
    li = load_table(spark, sf_dir, "lineitem")
    n_total = li.count()
    n = li.sample(fraction=0.1, seed=42).count()
    assert 0.07 * n_total < n < 0.13 * n_total
    assert li.sample(fraction=0.1, seed=42).count() == n


def test_sample_is_seeded_deterministic(spark, sf_dir):
    a = sorted(map(tuple, b8_sample(spark, sf_dir).collect()))
    b = sorted(map(tuple, b8_sample(spark, sf_dir).collect()))
    assert a == b


def test_approx_percentile_near_exact(spark, sf_dir):
    approx = {
        r["l_returnflag"]: (r["p50"], r["p90"])
        for r in d7_approx_percentile(spark, sf_dir).collect()
    }
    exact = {
        r["l_returnflag"]: (r["p50"], r["p90"])
        for r in load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile("l_extendedprice", F.lit(0.5)).alias("p50"),
            F.percentile("l_extendedprice", F.lit(0.9)).alias("p90"),
        )
        .collect()
    }
    for k, (a50, a90) in approx.items():
        e50, e90 = exact[k]
        assert abs(a50 - e50) / e50 < 0.01, (k, a50, e50)
        assert abs(a90 - e90) / e90 < 0.01, (k, a90, e90)


def test_approx_count_distinct_near_exact(spark, sf_dir):
    approx = {
        r["o_orderstatus"]: r["approx_customers"]
        for r in d8_approx_count_distinct(spark, sf_dir).collect()
    }
    exact = {
        r["o_orderstatus"]: r["n"]
        for r in load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count_distinct("o_custkey").alias("n"))
        .collect()
    }
    for k, a in approx.items():
        assert abs(a - exact[k]) / exact[k] < 0.05, (k, a, exact[k])


def test_salted_collect_list_matches_plain(spark, sf_dir):
    from oeem_etl_spark.catalog import load_table
    from oeem_etl_spark.operators.skew import salted_collect_list

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") <= 20)
    plain = {
        r["user_id"]: sorted(r["values"])
        for r in ev.groupBy("user_id")
        .agg(F.collect_list("event_id").alias("values"))
        .collect()
    }
    salted = {
        r["user_id"]: list(r["values"])
        for r in salted_collect_list(ev, ["user_id"], "event_id").collect()
    }
    assert salted == plain


def test_zorder_prunes_row_groups_on_second_dimension(spark, sf_dir, tmp_path):
    """Parquet row-group statistics proof: a layout sorted only on user_id
    cannot skip row groups for a timestamp-range predicate; the z-ordered
    layout (user_id × epoch interleaved) must make a strict majority of
    row groups skippable for the same predicate."""
    import glob

    import pyarrow.parquet as pq

    from oeem_etl_spark.catalog import load_table
    from oeem_etl_spark.sources.zorder import write_zordered

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp("ts").alias("epoch"), "value"
    )
    plain = str(tmp_path / "plain")
    zord = str(tmp_path / "zorder")
    (
        ev.repartitionByRange(2, "user_id")
        .sortWithinPartitions("user_id")
        .write.option("parquet.block.size", str(8 * 1024))
        .option("parquet.page.size", str(2 * 1024))
        .mode("overwrite")
        .parquet(plain)
    )
    write_zordered(ev, zord, ["user_id", "epoch"], n_files=2, small_row_groups=True)

    lo, hi = ev.agg(F.min("epoch"), F.max("epoch")).collect()[0]
    qlo = lo + (hi - lo) * 4 // 10
    qhi = lo + (hi - lo) * 5 // 10  # 10% epoch slice

    def overlap_fraction(path):
        total = hit = 0
        for f in glob.glob(f"{path}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}["epoch"]
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                total += 1
                if st.min <= qhi and st.max >= qlo:
                    hit += 1
        assert total > 8, f"need many row groups to prove pruning, got {total}"
        return hit / total

    frac_plain = overlap_fraction(plain)
    frac_z = overlap_fraction(zord)
    # user_id-sorted layout: epoch spans every group -> ~no skipping
    assert frac_plain > 0.9, frac_plain
    # z-ordered: most groups' epoch ranges exclude the slice
    assert frac_z < 0.5, frac_z

    # and the data is unchanged
    n = spark.read.parquet(zord).count()
    assert n == ev.count()


def test_hll_sketch_rollup_near_exact_and_merge_consistent(spark, sf_dir):
    """d15: per-group estimates near exact; the union-of-sketches estimate
    agrees with the direct whole-column sketch to within HLL error (the
    mergeability contract — re-aggregation never rescans rows)."""
    from oeem_etl_spark.plans.misc_queries import d15_hll_mergeable_rollup

    rows = {r["lang"]: r["approx_docs"] for r in d15_hll_mergeable_rollup(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count_distinct("doc_id").alias("n")).collect()
    }
    exact["ALL"] = docs.select("doc_id").distinct().count()
    for k, est in rows.items():
        assert abs(est - exact[k]) / exact[k] < 0.05, (k, est, exact[k])
    direct = docs.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("doc_id")).alias("e")
    ).collect()[0]["e"]
    # lgConfigK=12 → RSE ≈ 1.04/sqrt(4096) ≈ 1.6%; allow 2× that
    assert abs(rows["ALL"] - direct) / direct < 0.033, (rows["ALL"], direct)


def test_recursive_hierarchy_depths(spark, sf_dir):
    """g5: the seed level holds every customer, depths are contiguous, and
    the frontier shrinks monotonically (depth d holds exactly the keys with
    more than d decimal digits, since each step divides by 10)."""
    from oeem_etl_spark.plans.misc_queries import g5_recursive_hierarchy

    rows = {r["depth"]: r["n_nodes"] for r in g5_recursive_hierarchy(spark, sf_dir).collect()}
    n_cust = load_table(spark, sf_dir, "customer").count()
    assert rows[0] == n_cust  # seed level: every customer
    depths = sorted(rows)
    assert depths == list(range(len(depths)))  # contiguous depths
    for a, b in zip(depths, depths[1:]):  # frontier shrinks monotonically
        assert rows[b] <= rows[a], rows


def test_triangles_exact_enumeration(spark):
    from oeem_etl_spark.operators.graph import triangles

    # K4 minus edge (3,4): triangles (1,2,3), (1,2,4) — edges given in
    # mixed orientation with a duplicate and a self-loop to exercise
    # canonicalization
    edges = spark.createDataFrame(
        [(1, 2), (3, 1), (2, 3), (4, 1), (2, 4), (2, 1), (3, 3)],
        "src int, dst int",
    )
    got = sorted(tuple(r) for r in triangles(edges).collect())
    assert got == [(1, 2, 3), (1, 2, 4)]


def test_mode_tie_breaks_to_smallest_value(spark):
    from oeem_etl_spark.plans.registry import all_queries  # noqa: F401 — registry import pattern
    from pyspark.sql import functions as FF

    df = spark.createDataFrame(
        [("g", 5.0), ("g", 5.0), ("g", 2.0), ("g", 2.0), ("g", 9.0)],
        "k string, v double",
    )
    c = df.groupBy("k", "v").agg(FF.count(FF.lit(1)).alias("n"))
    m = c.groupBy("k").agg(
        FF.max(FF.struct(FF.col("n"), (-FF.col("v")).alias("negv"))).alias("m")
    )
    row = m.select("k", (-FF.col("m.negv")).alias("mode_v"), FF.col("m.n")).collect()[0]
    # 5.0 and 2.0 both appear twice; the tie must resolve to 2.0
    assert row["mode_v"] == 2.0 and row["n"] == 2


def test_stratified_sample_partition_invariant(spark):
    """The kept set is a pure function of (key, stratum) — repartitioning
    must not change it (the property sampleBy's RNG loses)."""
    from oeem_etl_spark.operators.splits import stratified_sample

    df = spark.range(0, 2000).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("s")
    )
    kept = lambda d: sorted(  # noqa: E731
        r["id"]
        for r in stratified_sample(
            d, "id", "s", {"0": 0.5, "1": 0.1}, default=0.02
        ).collect()
    )
    a = kept(df)
    b = kept(df.repartition(13, "s"))
    assert a == b and len(a) > 0
    # per-stratum rates land near their targets (md5 ~ uniform)
    from collections import Counter

    c = Counter(i % 3 for i in a)
    assert 0.4 < c[0] / 667 < 0.6
    assert 0.03 < c[1] / 667 < 0.2


def test_kll_rollup_brackets_exact_percentiles(spark):
    from oeem_etl_spark.plans.misc_queries import d20_kll_quantile_rollup

    sf = "/root/testdata/sf0.01"
    got = {r["event_type"]: r for r in d20_kll_quantile_rollup(spark, sf).collect()}
    ev = load_table(spark, sf, "events")
    exact = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.95)").alias("p95"),
        F.count("value").alias("n"),
    )
    for r in exact.collect():
        g = got[r["event_type"]]
        assert g["n"] == r["n"]
        # KLL default k: normalized rank error < 1.7%; allow value slack
        # proportional to the local quantile spread via rank tolerance
        assert abs(g["p50"] - r["p50"]) / max(abs(r["p50"]), 1e-9) < 0.15
        assert abs(g["p95"] - r["p95"]) / max(abs(r["p95"]), 1e-9) < 0.15
    assert got["ALL"]["n"] == sum(r["n"] for r in exact.collect())


def test_theta_algebra_matches_exact_sets(spark):
    from oeem_etl_spark.plans.misc_queries import g7_theta_distinct_algebra

    sf = "/root/testdata/sf0.01"
    row = g7_theta_distinct_algebra(spark, sf).collect()[0]
    ev = load_table(spark, sf, "events")
    clicks = {r["user_id"] for r in ev.where("event_type = 'click'").select("user_id").distinct().collect()}
    buys = {r["user_id"] for r in ev.where("event_type = 'purchase'").select("user_id").distinct().collect()}

    def close(est, exact):
        return abs(est - exact) <= max(3, 0.05 * exact)

    assert close(row["n_click_users"], len(clicks))
    assert close(row["n_purchase_users"], len(buys))
    assert close(row["n_either"], len(clicks | buys))
    assert close(row["n_both"], len(clicks & buys))
    assert close(row["n_click_only"], len(clicks - buys))


def test_round_tie_divergence_engine_note(spark, duck):
    """ENGINE NOTE (found by a61's first draft): Spark's round() on
    DOUBLE applies HALF_UP to the value's SHORTEST DECIMAL REPR
    (BigDecimal.valueOf), DuckDB's round() to the BINARY value — on
    3-decimal .xx5 ties manufactured by money*1.1 they legitimately
    disagree (283256.85*1.1 reprs as 311582.535 but the double is below
    the tie). Oracle queries must therefore never compare ROUND(x, n)
    outputs where x can land on a representational tie; the a61 idiom is
    exact integer cents: (cents*11 + 5) // 10."""
    from pyspark.sql import functions as F

    v = 283256.85
    s = (
        spark.range(1)
        .select(F.round(F.lit(v) * 1.1, 2).alias("r"))
        .collect()[0]["r"]
    )
    d = duck.execute("SELECT ROUND(? * 1.1, 2)", [v]).fetchone()[0]
    assert s == 311582.54 and d == 311582.53  # the documented divergence
    # the cents idiom agrees exactly on both engines
    # Spark parses bare decimal literals as DecimalType — cast the input
    # to DOUBLE (a61 uses the o_totalprice DOUBLE column) and the output
    # too, so the comparison is double-vs-double
    s2 = (
        spark.range(1)
        .select(
            F.expr(
                f"CAST(((CAST(ROUND(CAST({v!r} AS DOUBLE) * 100) AS BIGINT)"
                " * 11 + 5) div 10) / 100.0 AS DOUBLE)"
            ).alias("r")
        )
        .collect()[0]["r"]
    )
    # bare // 10 / 100.0 yields DECIMAL in DuckDB (the a61 oracle's CASE
    # coerces to DOUBLE via the other branch) — normalize for the compare
    d2 = float(
        duck.execute(
            f"SELECT ((CAST(ROUND({v!r} * 100) AS BIGINT) * 11 + 5) // 10)"
            " / 100.0"
        ).fetchone()[0]
    )
    assert s2 == d2 == 311582.54


def _vectors(spark, rows):
    return spark.createDataFrame(rows, "embedding array<float>")


def _bad_zorder_cols(spark):
    from oeem_etl_spark.sources.zorder import write_zordered

    write_zordered(spark.range(3), "unused", ["id", "id", "id"])


def _bad_deletions(spark):
    from oeem_etl_spark.operators.text import deletion_variants

    deletion_variants("w", max_deletions=3)


def _pca_fit_empty(spark):
    from oeem_etl_spark.operators.decomp import pca_fit

    pca_fit(_vectors(spark, []), "embedding", k=1)


def _pca_power_empty(spark):
    from oeem_etl_spark.operators.decomp import pca_power_fixed

    pca_power_fixed(_vectors(spark, []), "embedding", dim=2)


def _pca_power_constant(spark):
    from oeem_etl_spark.operators.decomp import pca_power_fixed

    pca_power_fixed(_vectors(spark, [([1.0, 2.0],)] * 4), "embedding", dim=2)


@pytest.mark.parametrize(
    "call, match",
    [
        (_bad_zorder_cols, "exactly 2 columns"),
        (_bad_deletions, "max_deletions"),
        (_pca_fit_empty, "empty input"),
        (_pca_power_empty, "empty input"),
        (_pca_power_constant, "zero covariance"),
    ],
    ids=lambda v: v.__name__.lstrip("_") if callable(v) else None,
)
def test_caller_input_checks_raise_value_error(spark, call, match):
    """Bad caller input raises ValueError, not an assert that
    ``python -O`` strips."""
    with pytest.raises(ValueError, match=match):
        call(spark)
