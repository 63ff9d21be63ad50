"""Unit tests for operators/clustering.py (fixed-point k-means, SemDeDup)
and corpus.duplicated_window_stats (span-level dedup signal)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from oeem_etl_spark.operators import clustering, corpus


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_kmeans_separated_blobs_recovered(spark):
    # Three tight blobs far apart; init takes the 3 smallest vec_ids, one
    # from each blob, so 3 Lloyd updates must land each point with its blob.
    blobs = {0: [10.0, 0.0], 1: [0.0, 10.0], 2: [-10.0, -10.0]}
    rows = []
    for b, center in blobs.items():
        for i in range(4):
            rows.append(
                (b + 3 * i, [center[0] + 0.01 * i, center[1] - 0.01 * i])
            )
    df = _emb(spark, rows)
    out = clustering.kmeans_assign(df, "vec_id", k=3, iters=3).collect()
    got = {r["vec_id"]: r["cluster"] for r in out}
    for b in blobs:
        members = {got[b + 3 * i] for i in range(4)}
        assert len(members) == 1, f"blob {b} split across clusters: {members}"
    assert {got[0], got[1], got[2]} == {0, 1, 2}


def test_kmeans_deterministic_across_runs(spark, sf_dir):
    from oeem_etl_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = clustering.kmeans_assign(emb, "vec_id", k=8, iters=2)
    b = clustering.kmeans_assign(emb, "vec_id", k=8, iters=2)
    ra = sorted((r["vec_id"], r["cluster"]) for r in a.collect())
    rb = sorted((r["vec_id"], r["cluster"]) for r in b.collect())
    assert ra == rb
    assert len(ra) == emb.count()
    assert {c for _, c in ra} <= set(range(8))


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    # vec_ids 0..2 are identical, so init ties send every point to cid 0
    # in round 1; clusters 1 and 2 go empty and must keep their [0,0]
    # centroid. Round 2: c0 has drifted to the mean, so the zero-points
    # tie between (unchanged) c1/c2 and break to cid 1; the far point
    # stays with c0. A dropped empty-cluster centroid would instead
    # crash or collapse everything into one cluster.
    rows = [(i, [0.0, 0.0]) for i in range(3)] + [(10, [0.1, 0.1])]
    df = _emb(spark, rows)
    out = clustering.kmeans_assign(df, "vec_id", k=3, iters=2).collect()
    got = {r["vec_id"]: r["cluster"] for r in out}
    assert got == {0: 1, 1: 1, 2: 1, 10: 0}


def test_kmeans_assignment_plan_is_map_only(spark, sf_dir):
    # Final assignment = scan + project against literal centroids: the
    # 100 TB contract is that scoring N rows against k centroids never
    # shuffles. (kmeans_assign's *fit* aggregates once per iteration; the
    # returned assignment plan itself must be exchange-free.)
    from oeem_etl_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = clustering.kmeans_assign(emb, "vec_id", k=4, iters=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_semantic_dedup_finds_planted_near_duplicate(spark):
    # Two near-identical vectors land in the same cluster and must surface
    # as a (keep=smaller, drop=larger) pair; orthogonal vectors must not.
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (5, [0.999, 0.001, 0.0]),  # near-dup of vec 0
        (7, [0.0, 0.0, 1.0]),
    ]
    df = _emb(spark, rows)
    pairs = clustering.semantic_dedup_pairs(
        df, "vec_id", k=2, iters=2, threshold=0.9
    ).collect()
    assert [(p["keep_id"], p["drop_id"]) for p in pairs] == [(0, 5)]
    assert pairs[0]["cos"] >= 0.9


def test_kmeans_split_bounds_dominant_cluster(spark):
    # One dominant cluster (32 of 35 points) must be split into
    # ceil(32/8)=4 sub-clusters when max_cluster_size=8; ids stay densely
    # numbered and every point keeps exactly one assignment.
    import math

    rows = [(0, [-10.0, -10.0]), (2, [-10.0, -8.0]), (4, [-8.0, -10.0])]
    for i in range(30):
        th = 0.05 * i
        rows.append((1 + 2 * i, [10 * math.cos(th), 10 * math.sin(th)]))
    rows += [(100, [7.0, 7.0]), (101, [7.0, 7.0])]  # identical pair, big blob
    df = _emb(spark, rows)
    plain = clustering.kmeans_assign(df, "vec_id", k=2, iters=2)
    split = clustering.kmeans_assign(df, "vec_id", k=2, iters=2, max_cluster_size=8)
    p = {r["vec_id"]: r["cluster"] for r in plain.collect()}
    s = {r["vec_id"]: r["cluster"] for r in split.collect()}
    assert set(p) == set(s) == {v for v, _ in rows}
    psizes = sorted(
        sum(1 for c in p.values() if c == cid) for cid in set(p.values())
    )
    ssizes = sorted(
        sum(1 for c in s.values() if c == cid) for cid in set(s.values())
    )
    assert psizes == [3, 32]
    # small cluster intact + >=2 sub-clusters of the dominant one (the
    # hash-stride seed draw yields ~ceil(32/8)=4 seeds, with variance)
    assert len(ssizes) >= 3
    assert max(ssizes) < 32
    # splitting refines the partition: every sub-cluster sits inside one
    # parent cluster
    for cid in set(s.values()):
        parents = {p[v] for v in s if s[v] == cid}
        assert len(parents) == 1
    # identical vectors always co-locate
    assert s[100] == s[101]


def test_semantic_dedup_split_reduces_pairs_keeps_dups(spark):
    # with a dominant cluster, max_cluster_size must cut the
    # O(n_c^2) candidate-pair count while the detected near-duplicate set
    # is unchanged (identical embeddings land in the same sub-cluster).
    import math

    rows = [(0, [-10.0, -10.0]), (2, [-10.0, -8.0]), (4, [-8.0, -10.0])]
    for i in range(30):
        th = 0.05 * i
        rows.append((1 + 2 * i, [10 * math.cos(th), 10 * math.sin(th)]))
    rows += [(100, [7.0, 7.0]), (101, [7.0, 7.0])]
    df = _emb(spark, rows)

    def run(mcs, threshold):
        return clustering.semantic_dedup_pairs(
            df, "vec_id", k=2, iters=2, threshold=threshold,
            n_salts=1, max_cluster_size=mcs,
        ).collect()

    # candidate volume at threshold=-1 (every within-cluster pair counts)
    assert len(run(8, -1.0)) < len(run(None, -1.0))
    # the real dup set at a tight threshold is identical
    tight = {(r["keep_id"], r["drop_id"]) for r in run(None, 0.99999)}
    split = {(r["keep_id"], r["drop_id"]) for r in run(8, 0.99999)}
    assert tight == split == {(100, 101)}


def test_duplicated_window_stats_exact_counts(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),      # windows: "a b c d e", "b c d e f"
            (2, "a b c d e x"),      # windows: "a b c d e", "b c d e x"
            (3, "z z z z z z z"),    # 3 identical windows "z z z z z"
            (4, "too short"),        # < 5 tokens: excluded
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_windows"], r["n_dup"], r["dup_frac"])
        for r in corpus.duplicated_window_stats(docs, "doc_id", "text").collect()
    }
    assert out == {1: (2, 1, 0.5), 2: (2, 1, 0.5), 3: (3, 3, 1.0)}


def test_duplicated_window_stats_hashed_matches_strings(spark, sf_dir):
    from oeem_etl_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    h = corpus.duplicated_window_stats(docs, "doc_id", "text", hashed=True)
    s = corpus.duplicated_window_stats(docs, "doc_id", "text", hashed=False)
    rh = sorted(map(tuple, h.collect()))
    rs = sorted(map(tuple, s.collect()))
    assert rh == rs


def test_observe_load_metrics(spark, sf_dir):
    from pyspark.sql import Observation

    from oeem_etl_spark.catalog import load_table
    from oeem_etl_spark.operators.quality import observe_load

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    obs = Observation()
    out = observe_load(ev, ["user_id", "value"], observation=obs)
    n = out.count()
    got = obs.get
    direct = ev.select(
        F.count(F.lit(1)).alias("rows"),
        F.count(F.when(F.col("user_id").isNull(), 1)).alias("null_user_id"),
        F.count(F.when(F.col("value").isNull(), 1)).alias("null_value"),
    ).first()
    assert got["rows"] == n == direct["rows"]
    assert got["null_user_id"] == direct["null_user_id"]
    assert got["null_value"] == direct["null_value"]


def test_cms_guarantee_and_merge(spark, sf_dir):
    # CMS bounds: exact <= estimate <= exact + eps*N (eps = e/width) for
    # every probed token; and merging two half-sketches equals building
    # one sketch over the whole corpus (CMS is a linear sketch).
    import math

    from oeem_etl_spark.catalog import load_table
    from oeem_etl_spark.operators import sketch
    from oeem_etl_spark.operators.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.col("doc_id"), F.explode(tokenize("text")).alias("token"))
    exact = {r["token"]: r["n"] for r in
             toks.groupBy("token").agg(F.count(F.lit(1)).alias("n")).collect()}
    total = sum(exact.values())
    eps = math.e / 1024

    cms = sketch.cms_build(toks, "token")
    probes = toks.select("token").distinct()
    est = {r["token"]: r["est"]
           for r in sketch.cms_estimate(cms, probes, "token").collect()}
    assert set(est) == set(exact)
    for t, n in exact.items():
        assert n <= est[t] <= n + eps * total, (t, n, est[t])

    half_a = sketch.cms_build(toks.where(F.col("doc_id") % 2 == 0), "token")
    half_b = sketch.cms_build(toks.where(F.col("doc_id") % 2 == 1), "token")
    merged = sketch.cms_merge(half_a, half_b)
    rm = sorted(map(tuple, merged.collect()))
    rw = sorted(map(tuple, cms.collect()))
    assert rm == rw


def test_streaming_cms_equals_batch(spark, sf_dir):
    # Linear-sketch property under streaming: per-micro-batch cells
    # appended and summed == one batch-built sketch, exactly.
    from oeem_etl_spark.catalog import load_table
    from oeem_etl_spark.operators import sketch
    from oeem_etl_spark.plans.streaming_queries import i10_streaming_cms

    streamed = {
        r["user_id"]: r["est"] for r in i10_streaming_cms(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("user_id")
    )
    batch_cms = sketch.cms_build(ev, "user_id")
    probes = spark.range(1, 6).select(F.col("id").cast("string").alias("user_id"))
    batch = {
        r["user_id"]: r["est"]
        for r in sketch.cms_estimate(batch_cms, probes, "user_id").collect()
    }
    assert streamed == batch
    exact = {
        r["user_id"]: r["n"]
        for r in ev.where(F.col("user_id").cast("long").between(1, 5))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for u, n in exact.items():
        assert streamed[u] >= n


def test_write_sharded_caps_file_rows(spark, sf_dir, tmp_path):
    from oeem_etl_spark.catalog import load_table
    from oeem_etl_spark.sources.writers import write_sharded

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    n = ev.count()
    manifest = write_sharded(
        ev, str(tmp_path / "shards"), max_records_per_file=1000, order_by=["user_id"]
    )
    assert sum(rows for _, rows in manifest) == n
    assert all(rows <= 1000 for _, rows in manifest)
    assert len(manifest) >= n // 1000


def test_funnel_stages_strict_ordering(spark):
    from oeem_etl_spark.operators.behavior import funnel_stages

    rows = [
        # u1: full funnel in order -> 3
        (1, "2024-01-01 00:00:00", "view"),
        (1, "2024-01-01 00:01:00", "click"),
        (1, "2024-01-01 00:02:00", "purchase"),
        # u2: purchase BEFORE click -> stops at 2
        (2, "2024-01-01 00:00:00", "view"),
        (2, "2024-01-01 00:00:30", "purchase"),
        (2, "2024-01-01 00:01:00", "click"),
        # u3: no view -> 0 even though click/purchase exist
        (3, "2024-01-01 00:00:00", "click"),
        (3, "2024-01-01 00:01:00", "purchase"),
        # u4: simultaneous view+click (not strictly after) -> 1
        (4, "2024-01-01 00:00:00", "view"),
        (4, "2024-01-01 00:00:00", "click"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        r["user_id"]: r["stage"]
        for r in funnel_stages(
            df, "user_id", "ts", "event_type", ["view", "click", "purchase"]
        ).collect()
    }
    assert out == {1: 3, 2: 2, 3: 0, 4: 1}


def test_cohort_retention_offsets(spark):
    from oeem_etl_spark.operators.behavior import cohort_retention

    rows = [
        (1, "2024-01-01 10:00:00"),  # Monday, cohort week 0
        (1, "2024-01-09 10:00:00"),  # next week -> offset 1
        (2, "2024-01-02 10:00:00"),  # same cohort week
        (2, "2024-01-16 10:00:00"),  # offset 2
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = {
        (str(r["cohort"]), r["period_offset"]): r["n_users"]
        for r in cohort_retention(df, "user_id", "ts").collect()
    }
    assert out == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 1): 1,
        ("2024-01-01", 2): 1,
    }


def test_sparse_tfidf_topk_max_df_prunes_hot_terms(spark):
    from oeem_etl_spark.operators.similarity import sparse_tfidf_topk

    docs = spark.createDataFrame(
        [
            (1, "common rare1 rare2"),
            (2, "common rare1 rare3"),
            (3, "common other thing"),
        ],
        "doc_id long, text string",
    )
    # 'common' has df=3 and idf=0, so it contributes nothing anyway;
    # pruning at max_df=2 must keep the rare1 overlap between docs 1,2.
    full = sparse_tfidf_topk(docs, "doc_id", "text", k=2)
    pruned = sparse_tfidf_topk(docs, "doc_id", "text", k=2, max_df=2)
    f = {(r["key_a"], r["key_b"]): r["score"] for r in full.collect()}
    p = {(r["key_a"], r["key_b"]): r["score"] for r in pruned.collect()}
    assert p[(1, 2)] == f[(1, 2)] > 0
    # doc 3 shares only the pruned/zero-idf term: no pair survives pruning
    assert not any(3 in k for k in p)


def test_csv_quarantine_splits_bad_rows(spark, tmp_path):
    from oeem_etl_spark.sources.readers import scan_csv_quarantine

    p = tmp_path / "feed"
    p.mkdir()
    (p / "part1.csv").write_text(
        "id,name,amount\n1,alpha,10.5\n2,beta,20.0\n"
    )
    (p / "part2.csv").write_text(
        "id,name,amount\n3,gamma,not_a_number\njunkline\n4,delta,40.25\n"
    )
    good, bad = scan_csv_quarantine(
        spark, str(p), "id bigint, name string, amount double"
    )
    g = sorted((r["id"], r["name"], r["amount"]) for r in good.collect())
    assert g == [(1, "alpha", 10.5), (2, "beta", 20.0), (4, "delta", 40.25)]
    quarantined = [r["_corrupt"] for r in bad.collect()]
    assert len(quarantined) == 2
    assert any("not_a_number" in q for q in quarantined)


# ---------------------------------------------------------------------------
# decomp.pca_fit / pca_transform
# ---------------------------------------------------------------------------


def test_pca_components_orthonormal_and_variance_ordered(spark):
    import numpy as np

    from oeem_etl_spark.operators.decomp import pca_fit

    rng = np.random.default_rng(7)
    X = rng.normal(size=(400, 16)) * np.linspace(5, 0.1, 16)
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(X)],
        "id long, embedding array<float>",
    )
    m = pca_fit(df, "embedding", k=5)
    G = m.components @ m.components.T
    assert np.allclose(G, np.eye(5), atol=1e-8)
    assert all(a >= b - 1e-12 for a, b in zip(m.explained_variance, m.explained_variance[1:]))
    assert 0 < m.explained_ratio.sum() <= 1 + 1e-12


def test_pca_recovers_planted_subspace_and_projects_jvm_side(spark):
    import numpy as np

    from oeem_etl_spark.operators.decomp import pca_fit, pca_transform

    rng = np.random.default_rng(11)
    # rank-2 data + tiny noise: two components must capture ~all variance
    basis = rng.normal(size=(2, 12))
    coords = rng.normal(size=(300, 2)) * [8.0, 3.0]
    X = coords @ basis + rng.normal(size=(300, 12)) * 0.01 + 5.0
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(X)],
        "id long, embedding array<float>",
    )
    m = pca_fit(df, "embedding", k=2)
    assert m.explained_ratio.sum() > 0.999
    out = pca_transform(df, "embedding", m).select("id", "proj").collect()
    P = np.array([r["proj"] for r in sorted(out, key=lambda r: r["id"])])
    # projected variance per component ~ its eigenvalue (float32 storage
    # of the inputs costs ~1e-3 relative)
    pv = P.var(axis=0)
    assert np.allclose(pv, m.explained_variance, rtol=1e-2)
    # projections are mean-centered
    assert np.allclose(P.mean(axis=0), 0, atol=1e-6)


def test_pca_partition_invariant_within_tolerance(spark):
    import numpy as np

    from oeem_etl_spark.operators.decomp import pca_fit

    rng = np.random.default_rng(3)
    X = rng.normal(size=(500, 8))
    rows = [(i, [float(v) for v in r]) for i, r in enumerate(X)]
    df1 = spark.createDataFrame(rows, "id long, embedding array<float>")
    m1 = pca_fit(df1, "embedding", k=3)
    m2 = pca_fit(df1.repartition(17), "embedding", k=3)
    assert np.allclose(m1.explained_variance, m2.explained_variance, rtol=1e-9)
    assert np.allclose(np.abs(m1.components @ m2.components.T), np.eye(3), atol=1e-6)


def test_pca_rerank_recall_vs_exact(spark):
    from oeem_etl_spark.operators import similarity
    from oeem_etl_spark.plans.llm_queries import l46_pca_rerank_topk

    sf = "/root/testdata/sf0.01"
    got = l46_pca_rerank_topk(spark, sf).collect()
    approx = {}
    for r in got:
        approx.setdefault(r["q_id"], set()).add(r["vec_id"])

    from oeem_etl_spark.catalog import load_table
    from pyspark.sql import functions as SF

    emb = load_table(spark, sf, "embeddings")
    queries = emb.where(SF.col("vec_id") < 20).select(
        SF.col("vec_id").alias("q_id"), "embedding"
    )
    exact_rows = similarity.cosine_topk(emb, queries, k=3).collect()
    exact = {}
    for r in exact_rows:
        exact[r["q_id"]] = exact.get(r["q_id"], set()) | {r["vec_id"]}
    hits = sum(len(approx[q] & exact[q]) for q in exact)
    total = sum(len(exact[q]) for q in exact)
    assert hits / total >= 0.9, (hits, total)


# ---------------------------------------------------------------------------
# product quantization
# ---------------------------------------------------------------------------


def _np_corpus(spark, sf_dir):
    import numpy as np

    pdf = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .toPandas()
        .sort_values("vec_id")
    )
    V = np.round(np.stack(pdf.embedding.values).astype(np.float64) * 1000).astype(
        np.int64
    )
    return pdf.vec_id.values, V


def test_pq_train_matches_per_subspace_lloyd(spark, sf_dir):
    # the fused one-job-per-iteration training must equal running
    # _lloyd independently per subspace (the definitional form)
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = clustering.pq_train(
        emb, "vec_id", "embedding", m=4, dim=64, k_codes=8, iters=2
    )
    qdf = emb.select(
        F.col("vec_id").alias("__k"),
        clustering.quantize_vec("embedding").alias("__qvfull"),
    )
    seed_rows = qdf.orderBy("__k").limit(8).collect()
    for j in range(4):
        sub_df = qdf.select(F.slice("__qvfull", j * 16 + 1, 16).alias("__qv"))
        seeds = [list(r["__qvfull"])[j * 16 : (j + 1) * 16] for r in seed_rows]
        assert clustering._lloyd(sub_df, seeds, 2) == books[j]


def test_pq_refined_recall_vs_bruteforce(spark, sf_dir):
    import numpy as np
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = clustering.pq_train(
        emb, "vec_id", "embedding", m=4, dim=64, k_codes=16, iters=1
    )
    qs = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    got = clustering.pq_search_refined(emb, qs, books, k=5, shortlist=50).collect()
    ids, V = _np_corpus(spark, sf_dir)
    hits = total = 0
    for q in range(10):
        d = ((V - V[np.where(ids == q)[0][0]]) ** 2).sum(axis=1)
        exact = set(ids[np.lexsort((ids, d))][:5])
        mine = {r["vec_id"] for r in got if r["q_id"] == q}
        hits += len(exact & mine)
        total += 5
    # ADC shortlist of 50 over 16-code books recovers most true
    # neighbors after exact re-rank; bound is a regression tripwire
    assert hits / total >= 0.8, hits / total


def test_pq_adc_distance_is_lut_sum(spark, sf_dir):
    # ADC distance of (q, x) must equal the exact L2 between q's
    # subvectors and x's ASSIGNED CENTROIDS (definition of ADC)
    import numpy as np
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)
    books = clustering.pq_train(
        emb, "vec_id", "embedding", m=4, dim=64, k_codes=8, iters=1
    )
    codes = {
        r["vec_id"]: list(r["pq_code"])
        for r in clustering.pq_encode(emb, "vec_id", books).collect()
    }
    qs = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    adc = clustering.pq_adc_topk(
        clustering.pq_encode(emb, "vec_id", books), qs, books, k=100
    ).collect()
    ids, V = _np_corpus(spark, sf_dir)
    pos = {v: i for i, v in enumerate(ids)}
    B = [np.array(b, dtype=np.int64) for b in books]
    for r in adc:
        q = V[pos[r["q_id"]]]
        expect = sum(
            int(((q[j * 16 : (j + 1) * 16] - B[j][codes[r["vec_id"]][j]]) ** 2).sum())
            for j in range(4)
        )
        assert r["adc_dist"] == expect


def test_pq_train_rejects_bad_dim():
    with pytest.raises(ValueError):
        clustering.pq_train(None, "vec_id", m=7, dim=64)


def test_pq_train_rejects_fewer_rows_than_codes(spark):
    # seeding takes the k_codes smallest keys; fewer input rows used to
    # surface as an opaque IndexError deep in the codebook lookup
    emb = _emb(spark, [(i, [float(i), 0.0, 1.0, 2.0]) for i in range(3)])
    with pytest.raises(ValueError, match="k_codes"):
        clustering.pq_train(emb, "vec_id", "embedding", dim=4, m=2, k_codes=8)


def test_pca_power_fixed_aligns_with_dominant_direction(spark):
    """The integer power iterate must align with the true top eigenvector
    (planted anisotropy: one direction carries 25x the variance), and the
    integer projection must equal the exact-arithmetic recompute."""
    import numpy as np

    from oeem_etl_spark.operators.decomp import pca_power_fixed

    rng = np.random.default_rng(11)
    d = 16
    u = np.zeros(d)
    u[3] = 1.0
    X = rng.normal(size=(300, d)) * 0.2 + np.outer(rng.normal(size=300) * 5, u)
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(X)],
        "id long, embedding array<float>",
    )
    v, out = pca_power_fixed(df, "embedding", dim=d, iters=8)
    vv = np.asarray(v, dtype=np.float64)
    cos = abs(vv @ u) / np.linalg.norm(vv)
    assert cos > 0.99, cos

    # exact recompute of one row's projection (python ints, half-away)
    row = out.where(F.col("id") == 5).select("embedding", "p1").first()
    def q(x):
        y = float(x) * 1000
        return int(np.floor(y + 0.5)) if y >= 0 else int(np.ceil(y - 0.5))
    expect = sum(q(x) * vi for x, vi in zip(row["embedding"], v))
    assert row["p1"] == expect


def test_quantize_half_away_boundary_doubles():
    """floor(X+0.5) rounds UP across the boundary on doubles like
    0.49999999999999994 (the IEEE sum is exactly 1.0); the corrected
    quantizer must agree with Spark F.round / DuckDB round(), which
    round the EXACT double half-away-from-zero."""
    import numpy as np

    from oeem_etl_spark.operators.decomp import quantize_half_away

    X = np.array(
        [0.49999999999999994, -0.49999999999999994, 0.5, -0.5, 1.5, -1.5,
         2.5, 0.0, 123.456, -123.456]
    )
    got = quantize_half_away(X).tolist()
    assert got == [0, 0, 1, -1, 2, -2, 3, 0, 123, -123], got
    # naive floor(X+0.5) gets the first element wrong
    naive = np.floor(X[0] + 0.5)
    assert naive == 1.0


def test_moment_partials_overflow_guard(spark):
    """int64 Gram accumulation wraps silently — the moment pass must
    raise loudly when max|x|^2 * rows could reach 2^63."""
    import pytest as _pytest

    from oeem_etl_spark.operators.decomp import pca_power_fixed

    big = 4.0e6  # |x|*q_scale = 4e9 -> one product 1.6e19 > 2^63
    df = spark.createDataFrame(
        [(0, [big, 0.0]), (1, [0.0, big])], "id long, embedding array<float>"
    )
    with _pytest.raises(Exception, match="overflow|q_scale"):
        pca_power_fixed(df, "embedding", dim=2, iters=2)
