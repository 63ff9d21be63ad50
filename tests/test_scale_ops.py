"""Scale-extension operators (SURVEY §2 C11/L10/L11): Bloom join pruning,
PageRank centrality, deterministic weighted sampling. Correctness is
oracle-checked by the driver (m1/m2/m3); these tests pin the properties
the oracle can't see — pruning actually sheds rows, ranks behave like
PageRank, sampling follows the weights."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from oeem_etl_spark.operators.graph import pagerank
from oeem_etl_spark.operators.pruning import (
    bloom_build,
    bloom_might_contain,
    bloom_pruned_join,
)
from oeem_etl_spark.operators.splits import weighted_sample_without_replacement


# --- C11 Bloom pruning -------------------------------------------------------


def test_bloom_no_false_negatives_and_low_fpp(spark, sf_dir):
    dim = spark.range(0, 500).select(F.col("id").alias("k"))
    bitmap = bloom_build(dim, "k")
    probe = spark.range(0, 50_000).select(F.col("id").alias("k"))
    hits = probe.where(bloom_might_contain("k", bitmap))
    got = {r["k"] for r in hits.collect()}
    assert set(range(500)) <= got  # a Bloom filter never loses a member
    fpp = (len(got) - 500) / (50_000 - 500)
    assert fpp < 0.01, fpp  # m=2^16, k=3, n=500 → expected ≪ 0.1%


def test_bloom_pruned_join_equals_plain_join(spark, sf_dir):
    from oeem_etl_spark.catalog import load_table

    dim = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_nationkey") <= 2)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    fact = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_quantity")
    pruned = bloom_pruned_join(fact, dim, on="l_suppkey")
    plain = fact.join(dim, "l_suppkey")
    assert pruned.count() == plain.count()
    a = pruned.groupBy("l_suppkey").count().collect()
    b = plain.groupBy("l_suppkey").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_bloom_probe_is_pure_scan_filter(spark, sf_dir):
    """The probe must compile to a Filter on the scan — no UDF (no
    BatchEvalPython / ArrowEvalPython) and no extra Exchange before the
    filter; that's what makes it free at 100 TB."""
    from tests.test_plans import plan_of

    dim = spark.range(0, 100).select(F.col("id").alias("l_suppkey"))
    bitmap = bloom_build(dim, "l_suppkey")
    from oeem_etl_spark.catalog import load_table

    fact = load_table(spark, sf_dir, "lineitem").select("l_suppkey")
    plan = plan_of(fact.where(bloom_might_contain("l_suppkey", bitmap)))
    assert "Filter" in plan
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


# --- L10 PageRank ------------------------------------------------------------


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_pagerank_mass_and_ordering(spark):
    # star graph: everyone links to "hub"; hub links back to a1 only
    pairs = [("a1", "hub"), ("a2", "hub"), ("a3", "hub"), ("hub", "a1")]
    ranks = {r["node"]: r["rank"] for r in pagerank(_edges(spark, pairs), iterations=5).collect()}
    assert set(ranks) == {"a1", "a2", "a3", "hub"}
    assert abs(sum(ranks.values()) - 1.0) < 1e-6  # no dangling nodes → mass 1
    assert ranks["hub"] > ranks["a1"] > ranks["a2"]  # hub most central
    assert math.isclose(ranks["a2"], ranks["a3"], rel_tol=1e-12)  # symmetric


def test_pagerank_uniform_on_cycle(spark):
    # directed 4-cycle: rank must stay exactly uniform at every iteration
    pairs = [("n1", "n2"), ("n2", "n3"), ("n3", "n4"), ("n4", "n1")]
    ranks = [r["rank"] for r in pagerank(_edges(spark, pairs), iterations=4).collect()]
    assert all(math.isclose(r, 0.25, rel_tol=1e-9) for r in ranks)


def test_pagerank_partitioning_invariant(spark):
    """Integer-micros contributions make ranks bit-identical across
    parallelism — the determinism the m2 oracle hash relies on."""
    pairs = [(f"u{i}", f"u{(i * 7) % 23}") for i in range(100)]
    e = _edges(spark, pairs)
    r1 = {r["node"]: r["rank"] for r in pagerank(e.coalesce(1), iterations=3).collect()}
    r32 = {r["node"]: r["rank"] for r in pagerank(e.repartition(32), iterations=3).collect()}
    assert r1 == r32


# --- L11 weighted sampling ---------------------------------------------------


def test_weighted_sample_is_without_replacement_and_deterministic(spark):
    rows = [(f"d{i}", 1.0 + (i % 10)) for i in range(200)]
    df = spark.createDataFrame(rows, "key string, w double")
    s1 = weighted_sample_without_replacement(df, "key", "w", k=20, seed=3)
    s2 = weighted_sample_without_replacement(df.repartition(16), "key", "w", k=20, seed=3)
    got1 = sorted(r["key"] for r in s1.collect())
    got2 = sorted(r["key"] for r in s2.collect())
    assert len(got1) == len(set(got1)) == 20
    assert got1 == got2  # partitioning- and rerun-invariant


def test_weighted_sample_follows_weights(spark):
    """Across many seeds, a 9×-weighted item must be drawn far more often
    than a 1×-weighted one (E-S inclusion probability is monotone in w)."""
    rows = [("heavy", 9.0)] + [(f"light{i}", 1.0) for i in range(49)]
    df = spark.createDataFrame(rows, "key string, w double")
    heavy_hits = 0
    for seed in range(30):
        picked = {
            r["key"]
            for r in weighted_sample_without_replacement(
                df, "key", "w", k=5, seed=seed
            ).collect()
        }
        assert len(picked) == 5
        heavy_hits += "heavy" in picked
    # P(heavy in sample) ≈ 1-(1-9/58)^5-ish ≳ 0.5; lights sit at ~0.1.
    assert heavy_hits >= 15, heavy_hits


def test_weighted_sample_per_group_respects_k(spark):
    rows = [(f"d{i}", ["a", "b", "c"][i % 3], float(1 + i % 7)) for i in range(90)]
    df = spark.createDataFrame(rows, "key string, grp string, w double")
    out = weighted_sample_without_replacement(
        df, "key", "w", k=4, group_by=["grp"], seed=1
    )
    counts = {r["grp"]: r["n"] for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert counts == {"a": 4, "b": 4, "c": 4}


# --- CC contraction (large-star/small-star) ---------------------------------


def test_cc_contraction_matches_label_propagation(spark, sf_dir):
    # random-ish multi-component graph via md5 edges: both variants must
    # produce identical (node -> component-min) labels
    from oeem_etl_spark.operators.dedup import (
        connected_components,
        connected_components_contraction,
    )

    e = spark.range(0, 400).select(
        (F.col("id") % 97).alias("key_a"),
        (F.pmod(F.xxhash64(F.col("id")), F.lit(120))).alias("key_b"),
    )
    a = {(r["node"], r["label"]) for r in connected_components(e).collect()}
    b = {
        (r["node"], r["label"])
        for r in connected_components_contraction(e).collect()
    }
    assert a == b


def test_cc_contraction_path_graph_log_rounds(spark, sf_dir):
    # a 10k-node path is the worst case for one-hop
    # min-label propagation (O(diameter) = 10k rounds); the contraction
    # variant must finish in O(log n) — assert a generous log bound and
    # that every node labels to the path minimum (0).
    from oeem_etl_spark.operators.dedup import connected_components_contraction

    n = 10_000
    path = spark.range(0, n - 1).select(
        F.col("id").alias("key_a"), (F.col("id") + 1).alias("key_b")
    )
    stats: dict = {}
    labels = connected_components_contraction(path, max_rounds=40, stats=stats)
    assert stats["rounds"] <= 2 * math.ceil(math.log2(n)), stats
    bad = labels.where(F.col("label") != 0).count()
    assert bad == 0
    assert labels.count() == n


def test_cc_label_propagation_reports_rounds(spark, sf_dir):
    # tiny two-component graph: 1 propagation round + 1 convergence round
    from oeem_etl_spark.operators.dedup import connected_components

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "key_a long, key_b long"
    )
    stats: dict = {}
    labels = connected_components(e, stats=stats)
    got = {(r["node"], r["label"]) for r in labels.collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    assert stats["rounds"] <= 3


def test_label_propagation_matches_python_reference(spark):
    # two triangles bridged by one edge; sync LPA with min tie-break
    from oeem_etl_spark.operators.graph import label_propagation

    edge_list = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]

    def ref(rounds):
        adj: dict[int, set[int]] = {}
        for a, b in edge_list:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        lab = {n: n for n in adj}
        for _ in range(rounds):
            new = {}
            for n, nbrs in adj.items():
                counts: dict[int, int] = {}
                for m in nbrs:
                    counts[lab[m]] = counts.get(lab[m], 0) + 1
                new[n] = min(
                    counts, key=lambda c: (-counts[c], c)
                )
            lab = new
        return lab

    df = spark.createDataFrame(edge_list, "src long, dst long")
    for rounds in (1, 2, 3):
        got = {
            r["node"]: r["label"]
            for r in label_propagation(df, rounds=rounds).collect()
        }
        assert got == ref(rounds), rounds


def test_label_propagation_separates_cliques(spark):
    # two disjoint 4-cliques: each converges to its own min-id label
    from oeem_etl_spark.operators.graph import label_propagation

    edges = [
        (a, b)
        for grp in ([10, 11, 12, 13], [20, 21, 22, 23])
        for i, a in enumerate(grp)
        for b in grp[i + 1 :]
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["label"] for r in label_propagation(df, rounds=3).collect()
    }
    assert {got[n] for n in (10, 11, 12, 13)} == {10}
    assert {got[n] for n in (20, 21, 22, 23)} == {20}


def test_cc_hybrid_matches_both_variants_random_graph(spark):
    from oeem_etl_spark.operators.dedup import (
        connected_components,
        connected_components_hybrid,
    )

    e = spark.range(0, 400).select(
        (F.col("id") % 97).alias("key_a"),
        (F.pmod(F.xxhash64(F.col("id")), F.lit(120))).alias("key_b"),
    )
    a = {(r["node"], r["label"]) for r in connected_components(e).collect()}
    stats: dict = {}
    h = {
        (r["node"], r["label"])
        for r in connected_components_hybrid(
            e, stats=stats, driver_edge_limit=0
        ).collect()
    }
    assert a == h
    # r10 driver union-find fast path: same labels as both distributed
    # variants on the same graph
    dstats: dict = {}
    d = {
        (r["node"], r["label"])
        for r in connected_components_hybrid(e, stats=dstats).collect()
    }
    assert dstats.get("driver_union_find") is True
    assert a == d


def test_cc_hybrid_converged_probe_skips_contraction(spark):
    # tiny-diameter graph: the min-label probe converges, no fallback
    from oeem_etl_spark.operators.dedup import connected_components_hybrid

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "key_a long, key_b long"
    )
    stats: dict = {}
    got = {
        (r["node"], r["label"])
        for r in connected_components_hybrid(
            e, stats=stats, driver_edge_limit=0
        ).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    assert stats["converged"] and "contraction_rounds" not in stats
    # with the default driver limit the same graph takes the union-find
    # fast path and yields identical labels
    dstats: dict = {}
    dgot = {
        (r["node"], r["label"])
        for r in connected_components_hybrid(e, stats=dstats).collect()
    }
    assert dgot == got and dstats.get("driver_union_find") is True


def test_cc_hybrid_chain_falls_back_to_contraction(spark):
    # 2k-node path: the 3-round probe cannot converge; the quotient
    # contraction must finish in O(log) rounds with exact labels
    from oeem_etl_spark.operators.dedup import connected_components_hybrid

    n = 2_000
    path = spark.range(0, n - 1).select(
        F.col("id").alias("key_a"), (F.col("id") + 1).alias("key_b")
    )
    stats: dict = {}
    labels = connected_components_hybrid(
        path, max_rounds=40, stats=stats, driver_edge_limit=0
    )
    assert not stats["converged"]
    assert 0 < stats["contraction_rounds"] <= 2 * math.ceil(math.log2(n))
    assert labels.where(F.col("label") != 0).count() == 0
    assert labels.count() == n
    # the driver fast path handles the same adversarial chain exactly
    dlabels = connected_components_hybrid(path)
    assert dlabels.where(F.col("label") != 0).count() == 0
    assert dlabels.count() == n


def test_cc_hybrid_driver_limit_falls_back_and_string_keys(spark):
    from oeem_etl_spark.operators.dedup import connected_components_hybrid

    # over-limit edge count routes to the distributed path (stats carry
    # the min-label probe fields, not the driver marker)
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "key_a long, key_b long"
    )
    stats: dict = {}
    got = {
        (r["node"], r["label"])
        for r in connected_components_hybrid(
            e, stats=stats, driver_edge_limit=2
        ).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    assert "driver_union_find" not in stats and stats["converged"]

    # string keys: Python code-point order == Spark UTF-8 byte order
    s = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], "key_a string, key_b string"
    )
    dstats: dict = {}
    dgot = {
        (r["node"], r["label"])
        for r in connected_components_hybrid(s, stats=dstats).collect()
    }
    assert dstats.get("driver_union_find") is True
    assert dgot == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x"),
    }

    # NULL endpoints are not modeled by the driver path: distributed
    # fallback, null node labels itself, null edges are inert
    nE = spark.createDataFrame(
        [(1, 2), (None, 3)], "key_a long, key_b long"
    )
    nstats: dict = {}
    ngot = {
        (r["node"], r["label"])
        for r in connected_components_hybrid(nE, stats=nstats).collect()
    }
    assert "driver_union_find" not in nstats
    assert (1, 1) in ngot and (2, 1) in ngot
