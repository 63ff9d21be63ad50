"""Unit tests for operators/search.py (inverted-index retrieval)."""

from __future__ import annotations

from oeem_etl_spark.operators import search


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "a b a b a"),
            (2, "b a b"),
            (3, "c c c"),
            (4, "a b"),
        ],
        "doc_id long, text string",
    )


def test_phrase_search_overlapping_and_repeated_terms(spark):
    p = search.build_postings(_docs(spark))
    # phrase with a REPEATED term: "a b a" occurs at 0 and 2 in doc 1
    got = {r["doc_id"]: r["n_matches"]
           for r in search.phrase_search(p, ["a", "b", "a"]).collect()}
    assert got == {1: 2}
    got2 = {r["doc_id"]: r["n_matches"]
            for r in search.phrase_search(p, ["b", "a"]).collect()}
    assert got2 == {1: 2, 2: 1}


def test_conjunctive_search_requires_all_terms(spark):
    p = search.build_postings(_docs(spark))
    got = {r["doc_id"]: r["n_occurrences"]
           for r in search.conjunctive_search(p, ["a", "b"]).collect()}
    assert got == {1: 5, 2: 3, 4: 2}
    assert search.conjunctive_search(p, ["a", "c"]).count() == 0


def test_phrase_filter_reaches_scan(spark, sf_dir):
    # the IN-list must be pushed into the parquet scan of documents...
    # postings come from a projection of the text column, so the check is
    # that the plan contains a Filter BELOW the first shuffle (no full
    # postings materialization before term filtering)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = search.build_postings(docs)
    plan = search.phrase_search(p, ["table", "hash"])._jdf.queryExecution() \
        .executedPlan().toString()
    first_exchange = plan.find("Exchange")
    assert "Filter" in plan[first_exchange:], plan[:500]


def test_srp_sketch_lsh_property(spark):
    """SRP sanity: a vector and its small perturbation collide on far more
    bits than unrelated vectors; sign(-v) complements every non-zero-dot
    bit."""
    import numpy as np

    from oeem_etl_spark.operators import similarity

    rng = np.random.default_rng(7)
    base = rng.normal(size=(20, 64)).astype("float32")
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        rows.append((i + 100, [float(x) for x in v + 0.01 * rng.normal(size=64).astype("float32")]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r["srp"] for r in similarity.srp_sketch(df).collect()}

    def ham(a, b):
        return bin(a ^ b).count("1")

    near = [ham(got[i], got[i + 100]) for i in range(20)]
    far = [ham(got[i], got[j]) for i in range(20) for j in range(20) if i < j]
    assert sum(near) / len(near) < 2.0, near          # near-dups: ~0-1 bits
    assert sum(far) / len(far) > 5.0, sum(far) / len(far)  # random: ~8 bits


def test_srp_ann_recovers_planted_neighbors(spark):
    """On data WITH angular structure (planted twins), SRP-ANN must put
    each query's twin at rank 1; on the near-isotropic fixture corpus the
    operator only promises determinism (cosine ~0 everywhere — no angular
    signal for ANY 16-bit sketch; l46's docstring documents the same)."""
    import numpy as np

    from oeem_etl_spark.operators import similarity

    rng = np.random.default_rng(11)
    base = rng.normal(size=(40, 64)).astype("float32")
    rows = [(i + 1000, [float(x) for x in v]) for i, v in enumerate(base)]
    # queries = perturbed twins of the first 5 corpus vectors
    qrows = [
        (i, [float(x) for x in base[i] + 0.05 * rng.normal(size=64)])
        for i in range(5)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = spark.createDataFrame(qrows, "q_id long, embedding array<float>")
    top = similarity.srp_ann_topk(corpus, queries, k=3)
    best = {r["q_id"]: r["vec_id"] for r in top.where("rnk = 1").collect()}
    assert best == {i: i + 1000 for i in range(5)}, best


def test_srp_ann_recall_on_anisotropic_corpus(spark):
    """Recall gate for the SRP path, the analogue of PQ's >=0.8 gate:
    on a corpus WITH angular signal — 8 clustered
    directions, per-vector noise 0.02 so intra-cluster angles stay well
    inside the 16-bit sketch's resolution (expected Hamming ~ bits*theta/pi
    must sit under max_hamming=4) — SRP-ANN at the documented settings
    (bits=16, bands=2, max_hamming=4) must achieve recall@10 >= 0.85 vs
    exact brute-force cosine top-10. Numpy calibration across seeds
    3/7/11 reads 0.995/0.92/0.945; noise 0.04 already drops to ~0.7,
    which is the honest sketch-resolution boundary, not a defect."""
    import numpy as np

    from oeem_etl_spark.operators import similarity

    rng = np.random.default_rng(3)
    centers = rng.normal(size=(8, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    cidx = rng.integers(0, 8, 200)
    corpus_np = centers[cidx] + 0.02 * rng.normal(size=(200, 64))
    qidx = rng.integers(0, 8, 20)
    queries_np = centers[qidx] + 0.02 * rng.normal(size=(20, 64))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(corpus_np)],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(queries_np)],
        "q_id long, embedding array<float>",
    )
    exact = similarity.cosine_topk(corpus, queries, k=10)
    approx = similarity.srp_ann_topk(corpus, queries, k=10)
    ex: dict[int, set] = {}
    for r in exact.collect():
        ex.setdefault(r["q_id"], set()).add(r["vec_id"])
    ap: dict[int, set] = {}
    for r in approx.collect():
        ap.setdefault(r["q_id"], set()).add(r["vec_id"])
    recalls = [len(ap.get(q, set()) & ex[q]) / len(ex[q]) for q in ex]
    assert len(recalls) == 20
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.85, (mean_recall, sorted(recalls))


def test_srp_ann_rejects_nondivisible_bands():
    """bits % bands != 0 would silently drop the top remainder bits from
    banding (recall loss with no error) — must refuse loudly."""
    import pytest

    from oeem_etl_spark.operators import similarity

    with pytest.raises(ValueError, match="divisible"):
        similarity.srp_ann_topk(None, None, k=3, bits=16, bands=3)


def test_srp_multiprobe_lifts_recall_past_single_probe(spark):
    """Multi-probe's reason to exist, measured: at noise 0.04 — where
    single-probe SRP drops to ~0.7 recall@10 (band keys start missing) —
    the 1-flip probe expansion must reach >= 0.85 AND strictly beat
    single-probe. Numpy calibration across seeds 3/7/11:
    single 0.655/0.74/0.74, multi(mh=6) 0.955/0.975/0.945."""
    import numpy as np

    from oeem_etl_spark.operators import similarity

    rng = np.random.default_rng(3)
    centers = rng.normal(size=(8, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    corpus_np = centers[rng.integers(0, 8, 200)] + 0.04 * rng.normal(
        size=(200, 64)
    )
    queries_np = centers[rng.integers(0, 8, 20)] + 0.04 * rng.normal(
        size=(20, 64)
    )
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(corpus_np)],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(queries_np)],
        "q_id long, embedding array<float>",
    )

    def recall(approx):
        ex: dict[int, set] = {}
        for r in similarity.cosine_topk(corpus, queries, k=10).collect():
            ex.setdefault(r["q_id"], set()).add(r["vec_id"])
        ap: dict[int, set] = {}
        for r in approx.collect():
            ap.setdefault(r["q_id"], set()).add(r["vec_id"])
        vals = [len(ap.get(q, set()) & ex[q]) / len(ex[q]) for q in ex]
        return sum(vals) / len(vals)

    single = recall(similarity.srp_ann_topk(corpus, queries, k=10))
    multi = recall(similarity.srp_ann_multiprobe(corpus, queries, k=10))
    assert multi >= 0.85, (single, multi)
    assert multi > single, (single, multi)


def test_srp_multiprobe_guards():
    import pytest

    from oeem_etl_spark.operators import similarity

    with pytest.raises(ValueError, match="divisible"):
        similarity.srp_ann_multiprobe(None, None, k=3, bits=16, bands=3)
    with pytest.raises(ValueError, match="probe_flips"):
        similarity.srp_ann_multiprobe(None, None, k=3, probe_flips=2)
