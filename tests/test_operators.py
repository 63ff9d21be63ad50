"""Unit fixtures (SURVEY.md §5.2(5), the reference's own test style): tiny
literal DataFrames with exact expected outputs, covering the operator paths
the SQL oracle can't see (UDF internals, stubs, hash-based signatures)."""

from __future__ import annotations

import datetime
import math

import pytest
from pyspark.sql import functions as F

from oeem_etl_spark.operators import dedup, multimodal, similarity, text


# ---------------------------------------------------------------------------
# text
# ---------------------------------------------------------------------------


def test_text_stats_exact(spark):
    df = spark.createDataFrame([(1, "the cat sat on the mat")], "id long, text string")
    row = text.text_stats(df, "id", "text").collect()[0]
    assert row["n_chars"] == 22
    assert row["n_tokens"] == 6
    # 17 letters / 22 chars; 5 distinct of 6 tokens
    assert row["alpha_ratio"] == round(17 / 22, 6)
    assert row["distinct_ratio"] == round(5 / 6, 6)


def test_quality_filter_gates(spark):
    rows = [
        (1, "a a a a a a a a a a a a a a a a a a a a"),  # low distinct ratio
        (2, "short text"),  # too few chars/tokens
        (3, "a perfectly reasonable sentence with plenty of distinct words"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    kept = [r["id"] for r in text.quality_filter(df, "text").select("id").collect()]
    assert kept == [3]


def test_language_id_votes_and_default(spark):
    docs = spark.createDataFrame(
        [(1, "der hund und die katze"), (2, "zzz qqq xxx")],
        "id long, text string",
    )
    markers = spark.createDataFrame(
        [("de", "der"), ("de", "und"), ("de", "die"), ("en", "the"), ("en", "and")],
        "lang string, marker string",
    )
    got = {
        r["id"]: (r["lang_pred"], r["hits"])
        for r in text.language_id(docs, "id", "text", markers).collect()
    }
    assert got == {1: ("de", 3), 2: ("und", 0)}


def test_token_count_bpe_ish_exact(spark):
    df = spark.createDataFrame([(1, "hello, world! v2.0")], "id long, t string")
    n = df.select(text.token_count_bpe_ish("t").alias("n")).collect()[0]["n"]
    # hello , world ! v 2 . 0  → 8
    assert n == 8


def test_fingerprint_winnow_deterministic_and_contained(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "a b c d e f g h i j")],
        "id long, text string",
    )
    out = {r["id"]: r["fingerprint"] for r in text.fingerprint_winnow(df, "id", "text").collect()}
    assert out[1] == out[2]  # identical text → identical fingerprint
    assert len(out[1]) >= 1


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


def test_exact_dedup_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "different doc")],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in dedup.exact_dedup(df, "text", "doc_id").collect())
    assert kept == [1, 3]  # smallest key survives the normalized-dup pair


def test_shingles_exact(spark):
    df = spark.createDataFrame([(1, "a b c d")], "id long, t string")
    got = df.select(dedup.shingles("t", 3).alias("s")).collect()[0]["s"]
    assert sorted(got) == ["a b c", "b c d"]
    # short doc: falls back to the whole text as one shingle
    df2 = spark.createDataFrame([(1, "a b")], "id long, t string")
    got2 = df2.select(dedup.shingles("t", 3).alias("s")).collect()[0]["s"]
    assert got2 == ["a b"]


def test_minhash_kernel_matches_expression_form(spark):
    """r9 optimization: the vectorized numpy permutation kernel
    (_minhash_perm_gen, the default) must be bit-identical to the
    array_min(transform(...)) expression form it replaced — including
    the NULL/empty/whitespace edge docs (array_min-of-NULL semantics)
    and a custom hash_fn (the l2b md5-family path)."""
    from pyspark.sql import functions as F

    rows = [
        (1, None),
        (2, ""),
        (3, "a"),
        (4, "a b"),
        (5, "a b c d e f"),
        (6, "x\x00y z w"),
        (7, " "),
        (8, "a a a a"),
        (9, "the quick brown fox jumps over the lazy dog"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    for kwargs in (
        {"num_perm": 16},
        {
            "num_perm": 8,
            "hash_fn": lambda s: F.pmod(
                F.crc32(s).cast("bigint"), F.lit(dedup._MERSENNE_P)
            ),
        },
    ):
        got = {
            r["doc_id"]: r["minhash"]
            for r in dedup.minhash_signatures(
                df, "doc_id", "text", **kwargs
            ).collect()
        }
        ref = {
            r["doc_id"]: r["minhash"]
            for r in dedup.minhash_signatures(
                df, "doc_id", "text", use_kernel=False, **kwargs
            ).collect()
        }
        assert got == ref


def test_minhash_lsh_finds_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    near = base.replace("runs", "walks")
    other = "completely unrelated text about spark aggregation pipelines at scale"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    out = dedup.minhash_lsh_dedup(df, "doc_id", "text", threshold=0.5)
    kept = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert kept == [1, 3]  # 2 deduped into 1's cluster; 3 untouched


def test_jaccard_verify_exact_value(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "b c d e")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "key_a long, key_b long")
    j = dedup.jaccard_verify(df, pairs, "doc_id", "text", shingle_k=2).collect()[0]
    # shingles k=2: {ab,bc,cd} vs {bc,cd,de} → inter 2, union 4
    assert j["jaccard"] == 0.5


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------


def test_cosine_topk_hand_vectors(spark):
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.0, 1.0]),
            (3, [1.0, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame([(10, [1.0, 0.0])], "q_id long, embedding array<float>")
    got = {
        r["vec_id"]: (r["score"], r["rnk"])
        for r in similarity.cosine_topk(corpus, queries, k=3).collect()
    }
    assert got[1] == (1.0, 1)
    assert got[3] == (round(1 / math.sqrt(2), 6), 2)
    assert got[2] == (0.0, 3)


def test_knn_classify_majority(spark):
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 7),
            (2, [0.9, 0.1], 7),
            (3, [0.0, 1.0], 9),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    queries = spark.createDataFrame([(10, [1.0, 0.05])], "q_id long, embedding array<float>")
    r = similarity.knn_classify(corpus, queries, k=2).collect()[0]
    assert (r["predicted"], r["votes"]) == (7, 2)


def test_ann_lsh_recall_on_fixture(spark, sf_dir):
    from oeem_etl_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") <= 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    exact = similarity.cosine_topk(emb, queries, k=10)
    approx = similarity.ann_lsh_topk(emb, queries, k=10, n_planes=4)
    e = {(r["q_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["q_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # 16-bucket single-probe LSH over 64-dim *uniform-noise* fixtures is the
    # hardest case for hyperplane LSH (no cluster structure) — the test
    # asserts the machinery works (recall far above the 1/16 random-bucket
    # floor ≈ 0.0625), not production recall, which needs multi-probe.
    assert recall >= 0.12, recall


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


def test_multimodal_roundtrip_and_features(spark):
    df = spark.createDataFrame([(1, "payload-one"), (2, "payload-two")], "id long, raw string")
    mm = multimodal.to_multimodal(df, "id", "raw", mime="application/octet-stream")
    # names/types must match the canonical schema (nullability is supplied
    # by the source relation, deliberately not asserted)
    assert mm.schema.simpleString() == multimodal.MULTIMODAL_SCHEMA.simpleString()
    meta = {r["asset_id"]: r["meta"]["n_bytes"] for r in mm.collect()}
    assert meta == {1: 11, 2: 11}

    feats = multimodal.extract_features(mm).collect()
    by_id = {r["asset_id"]: r["features"] for r in feats}
    assert len(by_id[1]) == multimodal.FEATURE_DIM
    assert by_id[1] != by_id[2]  # payload-dependent
    again = {
        r["asset_id"]: r["features"] for r in multimodal.extract_features(mm).collect()
    }
    assert again == by_id  # deterministic


def test_decode_image_is_explicit_stub():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG")


def test_frame_sample_plan_offsets(spark):
    df = spark.createDataFrame([(1, "x" * 25)], "id long, raw string")
    mm = multimodal.to_multimodal(df, "id", "raw", mime="video/fake")
    rows = multimodal.frame_sample_plan(mm, every_n=10).collect()
    assert [(r["frame_idx"], r["byte_offset"]) for r in rows] == [(0, 0), (1, 10)]


def test_dot_threshold_norm_prefilter_equivalence(spark, sf_dir):
    """Norm-bound pruning must not change results vs brute force, and must
    actually prune (the bound is strictly tighter than the cross product)."""
    from oeem_etl_spark.catalog import load_table
    from oeem_etl_spark.functions import vector

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") <= 300)
    queries = emb.where(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    tau = 0.28
    fast = similarity.dot_threshold_pairs(emb, queries, tau)

    q = queries.select(F.col("q_id"), F.col("embedding").alias("__qv"))
    brute = (
        emb.crossJoin(q)
        .withColumn("dot", F.round(vector.dot("embedding", "__qv"), 6))
        .where(F.col("dot") >= tau)
        .select("q_id", "vec_id", "dot")
    )
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, brute.collect()))

    # the pre-filter prunes pairs BEFORE the dot product. At low tau the
    # bound passes everything (norm products >> tau); pruning bites as tau
    # approaches the maximum norm product — verify with a tau at the 50th
    # percentile of norm products: ~half the pairs must be pruned.
    c = emb.select("vec_id", vector.norm("embedding").alias("cn"))
    qq = queries.select("q_id", vector.norm("embedding").alias("qn"))
    prods = c.crossJoin(qq).select((F.col("cn") * F.col("qn")).alias("p"))
    n_total = prods.count()
    tau_mid = prods.agg(F.percentile("p", F.lit(0.5))).collect()[0][0]
    surviving = prods.where(F.col("p") >= tau_mid).count()
    assert surviving <= 0.55 * n_total, (surviving, n_total)
    # and correctness still holds at that selective tau
    fast_hi = similarity.dot_threshold_pairs(emb, queries, float(tau_mid))
    brute_hi = (
        emb.crossJoin(q)
        .withColumn("dot", F.round(vector.dot("embedding", "__qv"), 6))
        .where(F.col("dot") >= float(tau_mid))
        .select("q_id", "vec_id", "dot")
    )
    assert sorted(map(tuple, fast_hi.collect())) == sorted(map(tuple, brute_hi.collect()))


def test_ann_lsh_multi_probe_raises_recall(spark, sf_dir):
    """Multi-probe must strictly expand the candidate set: recall at
    multi_probe=4 >= single-probe recall on the same queries."""
    from oeem_etl_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") <= 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    exact = {(r["q_id"], r["vec_id"]) for r in similarity.cosine_topk(emb, queries, k=10).collect()}

    def recall(mp):
        a = {
            (r["q_id"], r["vec_id"])
            for r in similarity.ann_lsh_topk(
                emb, queries, k=10, n_planes=4, multi_probe=mp
            ).collect()
        }
        return len(exact & a) / len(exact)

    r0, r4 = recall(0), recall(4)
    assert r4 >= r0, (r0, r4)
    assert r4 >= 0.3, (r0, r4)  # 5 of 16 buckets probed


# ---------------------------------------------------------------------------
# splits / scrubbing
# ---------------------------------------------------------------------------


def test_deterministic_split_stable_and_ratioed(spark, sf_dir):
    from oeem_etl_spark.catalog import load_table
    from oeem_etl_spark.operators.splits import deterministic_split

    docs = load_table(spark, sf_dir, "documents")
    a = {r["doc_id"]: r["split"] for r in deterministic_split(docs, "doc_id").collect()}
    b = {r["doc_id"]: r["split"] for r in deterministic_split(docs, "doc_id").collect()}
    assert a == b  # stable across runs
    n = len(a)
    from collections import Counter

    c = Counter(a.values())
    assert 0.7 < c["train"] / n < 0.9
    assert 0.05 < c["val"] / n < 0.15
    assert 0.05 < c["test"] / n < 0.15
    # adding rows never moves existing ones
    sub = docs.where(F.col("doc_id") <= 100)
    s = {r["doc_id"]: r["split"] for r in deterministic_split(sub, "doc_id").collect()}
    assert all(a[k] == v for k, v in s.items())


def test_redact_pii_exact(spark):
    from oeem_etl_spark.operators.splits import redact_pii

    df = spark.createDataFrame(
        [(1, "mail a.b+c@x-corp.io, call +1 (415) 555-0199, ssn 123-45-6789 ok")],
        "id long, text string",
    )
    got = df.select(redact_pii("text").alias("t")).collect()[0]["t"]
    assert got == "mail <EMAIL>, call <PHONE>, ssn <SSN> ok"


def test_int8_quantization_roundtrip_and_recall(spark, sf_dir):
    """Quantized values stay in [-127, 127]; dequantized vectors are close;
    int8 top-10 recalls >=8 of the exact float top-10 per query."""
    from oeem_etl_spark.catalog import load_table
    from oeem_etl_spark.operators.similarity import cosine_topk, int8_topk, quantize_int8

    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_int8(emb, "vec_id", "embedding")
    stats = q.select(
        F.array_max("qvec").alias("mx"), F.array_min("qvec").alias("mn")
    ).agg(F.max("mx").alias("mx"), F.min("mn").alias("mn")).collect()[0]
    assert stats["mx"] <= 127 and stats["mn"] >= -127

    queries = emb.where(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    exact = cosine_topk(emb, queries, k=10)
    approx = int8_topk(emb, queries, k=10)
    e = {(r["q_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["q_id"], r["vec_id"]) for r in approx.collect()}
    per_q = {}
    for qid, vid in e:
        per_q.setdefault(qid, set()).add(vid)
    for qid, evids in per_q.items():
        avids = {vid for (qq, vid) in a if qq == qid}
        assert len(evids & avids) >= 8, (qid, evids, avids)


def test_asof_join_forward_exact_semantics(spark):
    import datetime as dt

    from oeem_etl_spark.operators.relational import asof_join

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    left = spark.createDataFrame(
        [(1, t(10)), (1, t(30)), (2, t(5))], "k long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, t(10), 100.0), (1, t(20), 200.0), (2, t(1), 300.0)],
        "k long, ts timestamp, v double",
    )
    fwd = {
        (r["k"], r["ts"]): r["v"]
        for r in asof_join(
            left, right, ["k"], "ts", "ts", ["v"], direction="forward"
        ).collect()
    }
    # t10 matches the exact-ts right row; t30 has no future row -> null;
    # k2 t5 matches nothing forward (right is at t1)
    assert fwd == {(1, t(10)): 100.0, (1, t(30)): None, (2, t(5)): None}

    strict = {
        (r["k"], r["ts"]): r["v"]
        for r in asof_join(
            left, right, ["k"], "ts", "ts", ["v"],
            allow_exact=False, direction="forward",
        ).collect()
    }
    # strict >: t10 skips the equal-ts row and takes t20
    assert strict[(1, t(10))] == 200.0


def test_period_savings_empty_sides_and_fraction(spark):
    import datetime as dt

    from oeem_etl_spark.operators.timeseries import period_savings

    t = lambda d: dt.datetime(2024, 1, d)
    rows = [
        (1, t(1), 10.0), (1, t(2), 20.0),   # baseline avg 15
        (1, t(20), 6.0),                    # reporting avg 6 -> 60% savings
        (2, t(1), 5.0),                     # baseline only
        (3, t(20), 7.0),                    # reporting only
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v double")
    got = {
        r["k"]: (
            r["n_baseline"], r["n_reporting"],
            r["baseline_avg"], r["reporting_avg"], r["savings_frac"],
        )
        for r in period_savings(df, ["k"], "ts", "v", "2024-01-15").collect()
    }
    assert got[1] == (2, 1, 15.0, 6.0, 0.6)
    assert got[2] == (1, 0, 5.0, None, None)
    assert got[3] == (0, 1, None, 7.0, None)


def test_gap_report_exact_intervals(spark):
    import datetime as dt

    from oeem_etl_spark.operators.timeseries import gap_report

    h = lambda n: dt.datetime(2024, 1, 1, n)
    df = spark.createDataFrame(
        [(1, h(0)), (1, h(1)), (1, h(4)), (1, h(5)), (2, h(0)), (2, h(2))],
        "k long, bucket timestamp",
    )
    got = sorted(
        (r["k"], r["gap_start"], r["gap_end"], r["n_missing"])
        for r in gap_report(df, ["k"], "bucket").collect()
    )
    # k1: hours 2-3 missing; k2: hour 1 missing
    assert got == [(1, h(2), h(3), 2), (2, h(1), h(1), 1)]


def test_cosine_topk_arrow_matches_jvm_path(spark, sf_dir):
    """The Arrow/BLAS batched top-k (local per-batch top-k + merge) must
    reproduce the JVM expression-tree path row-for-row, including rounded
    score ties broken by key. Repartition forces multiple batches so the
    local-topk/merge logic is actually exercised."""
    from oeem_etl_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    jvm = similarity.cosine_topk(emb, queries, k=10)
    arrow = similarity.cosine_topk_arrow(emb.repartition(7), queries, k=10)
    assert sorted(map(tuple, jvm.collect())) == sorted(map(tuple, arrow.collect()))


def test_cosine_topk_arrow_zero_norm_excluded(spark):
    """Zero vectors (undefined cosine) never enter the Arrow path's local
    candidates; with >= k valid rows the result equals the JVM path, which
    ranks its NULL scores past k."""
    rows = [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0]), (4, [0.5, 0.5])]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0])], "q_id long, embedding array<double>"
    )
    got = similarity.cosine_topk_arrow(corpus, queries, k=3).collect()
    assert [r["vec_id"] for r in got] == [1, 2, 4]
    assert all(r["score"] is not None for r in got)


def test_incremental_dedup_within_and_across_batch(spark):
    """Within-batch: smallest key per normalized text survives. Across:
    anything already in the seen index is dropped, even if its in-batch
    key is minimal. Whitespace/case variants hash identically."""
    seen_docs = spark.createDataFrame(
        [(1, "Hello  World"), (2, "old news")], "doc_id long, text string"
    )
    seen = dedup.digest_index(seen_docs, "text")
    batch = spark.createDataFrame(
        [
            (10, "hello world"),      # dup of seen #1 (normalized) -> dropped
            (11, "fresh content"),    # new -> kept
            (12, "FRESH   content"),  # in-batch dup of 11 -> dropped
            (13, "another one"),      # new -> kept
        ],
        "doc_id long, text string",
    )
    kept = dedup.incremental_dedup(batch, seen, "text", "doc_id")
    assert sorted(r["doc_id"] for r in kept.collect()) == [11, 13]

    # empty seen index: pure within-batch dedup
    empty = dedup.digest_index(seen_docs.limit(0), "text")
    kept2 = dedup.incremental_dedup(batch, empty, "text", "doc_id")
    assert sorted(r["doc_id"] for r in kept2.collect()) == [10, 11, 13]


def test_calendarize_split_exact(spark):
    from oeem_etl_spark.operators.timeseries import calendarize

    df = spark.createDataFrame(
        # Jan 30 .. Feb 2 inclusive: 4 days total, 2 in Jan, 2 in Feb
        [(1, datetime.date(2026, 1, 30), datetime.date(2026, 2, 2), 100.0),
         # single-day interval, no straddle
         (2, datetime.date(2026, 3, 5), datetime.date(2026, 3, 5), 7.07)],
        "k long, s date, e date, v double",
    )
    out = {
        (r["k"], str(r["month"])): (r["overlap_days"], r["total_days"], r["v_alloc"])
        for r in calendarize(df, "s", "e", "v", keys=["k"]).collect()
    }
    assert out[(1, "2026-01-01")] == (2, 4, 50.0)
    assert out[(1, "2026-02-01")] == (2, 4, 50.0)
    assert out[(2, "2026-03-01")] == (1, 1, 7.07)
    # floor at 1e-4: 100/3 allocates 33.3333, remainder unallocated
    df3 = spark.createDataFrame(
        [(3, datetime.date(2026, 4, 29), datetime.date(2026, 5, 1), 100.0)],
        "k long, s date, e date, v double",
    )
    out3 = {
        str(r["month"]): r["v_alloc"]
        for r in calendarize(df3, "s", "e", "v", keys=["k"]).collect()
    }
    assert out3["2026-04-01"] == 66.6666  # 2/3 of 100, floored
    assert out3["2026-05-01"] == 33.3333  # 1/3 of 100, floored


def test_calendarize_monthly_equals_explode(spark):
    """calendarize_monthly (the r10 difference-array rollup) must be
    bit-identical to calendarize().groupBy(month).agg(count, sum(e4)) —
    adversarial grid: single-day/single-month, exact month boundaries,
    two-month, leap February middles, negatives, zeros, long spans, and
    a pseudo-random batch."""
    import random

    from oeem_etl_spark.operators.timeseries import calendarize, calendarize_monthly

    rows = [
        ("2020-01-15", "2020-01-15", 1.23),
        ("2020-01-31", "2020-02-01", 10.0),
        ("2020-01-01", "2020-01-31", 3.21),     # exact full month
        ("2020-02-01", "2020-03-31", 8.4),      # two exact months
        ("2019-12-01", "2020-03-15", 99.99),    # leap Feb as middle
        ("2020-02-29", "2020-02-29", 5.0),
        ("2018-01-01", "2021-12-31", -7.77),    # negative, 4-year span
        ("2020-06-10", "2020-06-10", 0.0),
        ("2020-01-01", "2020-12-31", 0.0001),
        ("2026-11-30", "2026-12-01", 2.5),      # boundary straddle
        ("2020-01-10", "2020-04-10", None),     # NULL value beside valued ones
        ("2030-03-05", "2030-05-20", None),     # months covered only by NULL
    ]
    rng = random.Random(42)
    base = datetime.date(2019, 1, 1)
    for _ in range(60):
        s = base + datetime.timedelta(days=rng.randrange(0, 900))
        e = s + datetime.timedelta(days=rng.randrange(0, 500))
        rows.append((str(s), str(e), round(rng.uniform(-500, 500), 4)))
    df = spark.createDataFrame(rows, "s string, e string, v double").select(
        F.col("s").cast("date").alias("s"), F.col("e").cast("date").alias("e"), "v"
    )
    old = (
        calendarize(df.withColumn("k", F.lit(1)), "s", "e", "v", keys=["k"], emit_e4=True)
        .groupBy("month")
        .agg(F.count(F.lit(1)).alias("n_parts"), F.sum("v_alloc_e4").alias("e4"))
    )
    new = calendarize_monthly(df, "s", "e", "v").withColumnRenamed(
        "v_alloc_e4_sum", "e4"
    )
    a = sorted(map(tuple, old.collect()), key=repr)
    b = sorted(map(tuple, new.collect()), key=repr)
    assert a == b
    assert (datetime.date(2030, 4, 1), 1, None) in b
    # empty input: no axis, no rows, no error
    assert calendarize_monthly(df.limit(0), "s", "e", "v").count() == 0
    # start > end raises in both forms (the explode's sequence() and the
    # fold's raise_error), never a quiet wrong sum
    bad = df.union(
        spark.createDataFrame(
            [(datetime.date(2020, 5, 2), datetime.date(2020, 3, 9), 1.0)],
            "s date, e date, v double",
        )
    )
    with pytest.raises(Exception, match="(?i)sequence"):
        calendarize(bad, "s", "e", "v", keys=[]).collect()
    with pytest.raises(Exception, match="start 2020-05-02 is after its end 2020-03-09"):
        calendarize_monthly(bad, "s", "e", "v").collect()


def test_hard_negatives_excludes_same_label(spark):
    rows = [
        (1, 0, [1.0, 0.0]),   # query: label 0
        (2, 0, [0.99, 0.1]),  # same label — must never appear
        (3, 1, [0.9, 0.2]),   # closest different-label
        (4, 1, [0.0, 1.0]),   # orthogonal different-label
        (5, 2, [0.8, 0.3]),   # second-closest different-label
    ]
    emb = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    queries = emb.where(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("q_id"), "label", "embedding"
    )
    out = similarity.hard_negatives(emb, queries, k=2).collect()
    got = [(r["vec_id"], r["neg_label"], r["rnk"]) for r in sorted(out, key=lambda r: r["rnk"])]
    assert [v for v, _, _ in got] == [3, 5]
    assert all(l != 0 for _, l, _ in got)


# ---------------------------------------------------------------------------
# timeseries.interpolate_gaps
# ---------------------------------------------------------------------------


def test_interpolate_gaps_linear_exact(spark):
    from oeem_etl_spark.operators.timeseries import interpolate_gaps

    df = spark.createDataFrame(
        [
            ("a", "2024-01-01", 10.0),
            ("a", "2024-01-04", 40.0),   # gap of 2 days: expect 20, 30
            ("a", "2024-01-05", 4.0),
            ("a", "2024-01-08", 1.0),    # negative slope: expect 3, 2
            ("b", "2024-01-01", 0.0),
            ("b", "2024-01-04", 1.0),    # trunc: 1e6/3 -> 0.333333, 0.666666
        ],
        "k string, d string, v double",
    ).select("k", F.col("d").cast("timestamp").alias("bucket"), "v")
    out = {
        (r["k"], str(r["bucket"].date())): (r["v"], r["was_gap"])
        for r in interpolate_gaps(df, ["k"], "bucket", "v", freq="day").collect()
    }
    assert out[("a", "2024-01-02")] == (20.0, True)
    assert out[("a", "2024-01-03")] == (30.0, True)
    assert out[("a", "2024-01-06")] == (3.0, True)
    assert out[("a", "2024-01-07")] == (2.0, True)
    assert out[("b", "2024-01-02")] == (0.333333, True)
    assert out[("b", "2024-01-03")] == (0.666666, True)
    # observed rows pass through unchanged, flagged not-gap
    assert out[("a", "2024-01-01")] == (10.0, False)
    assert out[("a", "2024-01-04")] == (40.0, False)
    assert out[("b", "2024-01-04")] == (1.0, False)
    assert len(out) == 12


# ---------------------------------------------------------------------------
# text.fuzzy_join
# ---------------------------------------------------------------------------


def test_fuzzy_join_edit_kinds_and_exclusions(spark):
    from oeem_etl_spark.operators.text import fuzzy_join

    left = spark.createDataFrame(
        [(1, "cat"), (2, "flame"), (3, "x"), (4, "")],
        "a_id long, a_s string",
    )
    right = spark.createDataFrame(
        [
            (10, "cat"),    # equal -> dist 0
            (11, "cut"),    # substitution
            (12, "cart"),   # insertion
            (13, "at"),     # deletion
            (14, "dog"),    # dist 3: excluded
            (15, "lame"),   # deletion vs flame
            (16, "blame"),  # substitution vs flame
            (17, ""),       # equal-empty vs (4,"")
            (18, "y"),      # substitution vs "x"
        ],
        "b_id long, b_s string",
    )
    out = {
        (r["a_id"], r["b_id"]): r["dist"]
        for r in fuzzy_join(left, right, "a_s", "b_s").collect()
    }
    assert out == {
        (1, 10): 0, (1, 11): 1, (1, 12): 1, (1, 13): 1,
        (2, 15): 1, (2, 16): 1,
        (3, 18): 1, (3, 17): 1, (4, 18): 1,
        (4, 17): 0,
    }


def test_repetition_signals_exact(spark):
    df = spark.createDataFrame(
        [
            (1, "a a a b"),        # dup: 3/4; bigrams: [a a, a a, a b] -> 2/3
            (2, "w x y z"),        # no repeats: 0; all bigrams unique: 1/3
            (3, "solo"),           # 1 token: no bigrams -> NULL
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["dup_token_frac"], r["top_bigram_frac"])
        for r in text.repetition_signals(df, "doc_id", "text").collect()
    }
    assert out[1] == (0.75, round(2 / 3, 6))
    assert out[2] == (0.0, round(1 / 3, 6))
    assert out[3] == (0.0, None)


def test_ewma_half_exact_weights(spark):
    from oeem_etl_spark.operators.timeseries import ewma_half

    df = spark.createDataFrame(
        [("a", "2024-01-01", 1.0), ("a", "2024-01-02", 2.0), ("a", "2024-01-03", 4.0)],
        "k string, d string, v double",
    ).select("k", F.col("d").cast("timestamp").alias("ts"), "v")
    out = {
        str(r["ts"].date()): r["ewma"]
        for r in ewma_half(df, ["k"], "ts", "v").collect()
    }
    # weights oldest->newest are 1,2,4,... normalizer 2^n - 1
    assert out["2024-01-01"] == 1.0
    assert out["2024-01-02"] == round(16666 / 10000, 4)  # trunc(50000/3)
    assert out["2024-01-03"] == 3.0  # 210000/7 exactly


def test_per_key_ols_closed_form(spark):
    from oeem_etl_spark.operators.timeseries import per_key_ols

    df = spark.createDataFrame(
        [
            ("a", 0.0, 1.0), ("a", 1.0, 3.0), ("a", 2.0, 5.0),   # y = 1 + 2x
            ("b", 1.0, 10.0), ("b", 2.0, 9.5), ("b", 3.0, 9.0),  # y = 10.5 - 0.5x
            ("c", 4.0, 7.0), ("c", 4.0, 9.0),                    # constant x
        ],
        "k string, x double, y double",
    )
    out = {
        r["k"]: (r["n"], r["slope"], r["intercept"])
        for r in per_key_ols(df, ["k"], F.col("x"), F.col("y")).collect()
    }
    assert out["a"] == (3, 2.0, 1.0)
    assert out["b"] == (3, -0.5, 10.5)
    assert out["c"] == (2, None, None)


def test_soundex_canonical_examples(spark):
    """Pin Spark's soundex to the published US-census examples (including
    the H/W separator rule) so the phonetic blocking key is the standard
    algorithm, not an engine quirk."""
    cases = {
        "Robert": "R163",
        "Rupert": "R163",
        "Ashcraft": "A261",
        "Ashcroft": "A261",
        "Tymczak": "T522",
        "Pfister": "P236",
        "Honeyman": "H555",
    }
    df = spark.createDataFrame([(k,) for k in cases], "name string")
    got = {r["name"]: r["code"] for r in df.select("name", F.soundex("name").alias("code")).collect()}
    assert got == cases


def test_bm25_scores_exact_small(spark):
    """BM25 against a hand-replicated model on a 3-doc corpus. ln() may
    differ from java.lang.Math.log by 1 ulp, so values get a 2e-6 band;
    the structural facts (doc set, hit counts, ranking) are exact."""
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "b b b c")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_hit_terms"], r["score"])
        for r in text.bm25_scores(df, "doc_id", "text", ["a", "b"]).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1][0] == 2 and out[2][0] == 1 and out[3][0] == 1

    def model(pairs, dl, avgdl):
        tot = 0
        for tf, dfreq in pairs:
            idf = math.log(1.0 + (3 - dfreq + 0.5) / (dfreq + 0.5))
            s = idf * (tf * (1.2 + 1.0)) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))
            tot += math.floor(s * 1e6 + 0.5)
        return tot / 1e6

    avgdl = 9 / 3
    assert abs(out[1][1] - model([(2, 2), (1, 2)], 3, avgdl)) < 2e-6
    assert abs(out[2][1] - model([(1, 2)], 2, avgdl)) < 2e-6
    assert abs(out[3][1] - model([(3, 2)], 4, avgdl)) < 2e-6
    # doc 3 (tf=3 of 'b') must outrank doc 2 (tf=1 of 'a', same df)
    assert out[3][1] > out[2][1]


def _nn_rows(spark, points, sites, cell):
    from oeem_etl_spark.operators.spatial import grid_nn_join

    p = spark.createDataFrame(points, "pk long, x long, y long")
    s = spark.createDataFrame(sites, "sk long, x long, y long")
    return {
        r["pk"]: (r["nearest_site"], r["d2"])
        for r in grid_nn_join(p, s, "pk", "sk", cell=cell).collect()
    }


def test_grid_nn_exact_when_nearest_outside_window(spark):
    """The true nearest site sits 3 cells away (empty 3x3 window): the
    grid path must hand the point to the exact fallback, not drop it or
    return a worse candidate."""
    out = _nn_rows(
        spark,
        [(1, 0, 0)],
        [(7, 350, 0), (8, 900, 900)],  # both outside the 3x3 of cell (0,0)
        cell=100,
    )
    assert out == {1: (7, 350 * 350)}


def test_grid_nn_rejects_unprovable_grid_winner(spark):
    """A candidate IS in the 3x3 window but at d >= cell, while the true
    nearest hides just past the window: accepting the grid winner would
    be wrong; the d2 < cell^2 guarantee must route to the fallback."""
    out = _nn_rows(
        spark,
        [(1, 0, 0)],
        # in-window (same cell) but far; true nearest at cx=2 (outside 3x3
        # is cx>=2 only when |cell delta|>=2 ... cx(201)=2 with cell=100)
        [(5, 99, 99), (6, 201, 0)],
        cell=100,
    )
    # d(5)^2 = 99^2+99^2 = 19602 >= 100^2 -> fallback; true nearest is 5
    # anyway (d(6)^2 = 40401) — the point is that the answer came from the
    # EXACT path and equals brute force
    assert out == {1: (5, 19602)}


def test_grid_nn_distance_tie_breaks_on_site_key(spark):
    out = _nn_rows(spark, [(1, 0, 0)], [(9, 50, 0), (4, -50, 0)], cell=1000)
    assert out == {1: (4, 2500)}


def test_grid_nn_equals_bruteforce_dense(spark):
    """Hash-scattered points/sites across many cells equal brute force
    point-for-point (exercises grid winners AND fallbacks)."""
    import hashlib

    def h(i, tag, lim):
        v = int.from_bytes(hashlib.md5(f"{tag}:{i}".encode()).digest()[:4], "big")
        return v % lim - lim // 2

    points = [(i, h(i, "px", 2000), h(i, "py", 2000)) for i in range(80)]
    sites = [(j, h(j, "sx", 2000), h(j, "sy", 2000)) for j in range(12)]
    out = _nn_rows(spark, points, sites, cell=150)
    for i, x, y in points:
        want = min(((x - sx) ** 2 + (y - sy) ** 2, sk) for sk, sx, sy in sites)
        assert out[i] == (want[1], want[0]), i


def test_prefix_filter_jaccard_equals_bruteforce(spark):
    """Lossless-candidate claim: output equals the quadratic brute force
    on a planted corpus with near-threshold pairs, exact-duplicate pairs,
    and sub-shingle-length docs."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = [
        (1, base),
        (2, base),                                # exact dup of 1
        (3, base.replace("dog", "cat")),          # near dup
        (4, "completely different words here now thanks"),
        (5, "short doc"),                         # < k tokens: 1 shingle
        (6, "short doc"),                         # its dup
        (7, "the quick brown fox jumps over the lazy dog"),  # prefix of 1
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for t in (0.3, 0.5, 0.9):
        got = {
            (r["key_a"], r["key_b"]): r["jaccard"]
            for r in dedup.prefix_filter_jaccard_join(df, "doc_id", "text", t).collect()
        }

        def sh(s, k=3):
            toks = s.split(" ")
            if len(toks) < k:
                return {" ".join(toks)}
            return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

        want = {}
        for i, ti in docs:
            for j, tj in docs:
                if i < j:
                    a, b = sh(ti), sh(tj)
                    jac = len(a & b) / len(a | b)
                    if jac >= t:
                        want[(i, j)] = round(jac, 6)
        assert got == want, (t, got, want)


def test_file_metadata_audit_multi_file(spark, sf_dir, tmp_path):
    """_metadata.file_name is per-row across a multi-file table: a 3-file
    write audits back as 3 distinct files whose row counts sum to the
    total and whose key ranges partition the data."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id")
    out = str(tmp_path / "multi")
    ev.repartitionByRange(3, "event_id").write.parquet(out)
    audit = (
        spark.read.parquet(out)
        .select(F.col("_metadata.file_name").alias("f"), "event_id")
        .groupBy("f")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("event_id").alias("lo"),
            F.max("event_id").alias("hi"),
        )
        .collect()
    )
    assert len(audit) == 3
    assert sum(r["n"] for r in audit) == ev.count()
    spans = sorted((r["lo"], r["hi"]) for r in audit)
    for (l1, h1), (l2, h2) in zip(spans, spans[1:]):
        assert h1 < l2  # range-partitioned: files hold disjoint key spans


def test_weighted_quantile_exact(spark):
    from oeem_etl_spark.operators.relational import weighted_quantile

    # values 1..4 with weights 1,1,6,2 (total 10): median reach at cum>=5
    # -> value 3; p90 reach at cum>=9 -> value 4
    df = spark.createDataFrame(
        [("g", 1, 1), ("g", 2, 1), ("g", 3, 6), ("g", 4, 2)],
        "grp string, v int, w int",
    )
    med = weighted_quantile(df, ["grp"], "v", "w", 1, 2).collect()
    p90 = weighted_quantile(df, ["grp"], "v", "w", 9, 10).collect()
    assert [(r["grp"], r["v"]) for r in med] == [("g", 3)]
    assert [(r["grp"], r["v"]) for r in p90] == [("g", 4)]


def test_weighted_quantile_bucketed_equals_one_pass(spark):
    import random

    from oeem_etl_spark.operators.relational import (
        weighted_quantile,
        weighted_quantile_bucketed,
    )

    rnd = random.Random(7)
    rows = [
        (f"g{i % 3}", round(rnd.uniform(0, 1000), 2), rnd.randint(1, 9))
        for i in range(2000)
    ] + [("g0", 500.0, 50), ("g1", 500.0, 50)]  # heavy duplicate value
    df = spark.createDataFrame(rows, "grp string, v double, w int")
    for num, den in [(1, 2), (9, 10), (1, 4)]:
        a = {
            (r["grp"]): r["v"]
            for r in weighted_quantile(df, ["grp"], "v", "w", num, den).collect()
        }
        for nb in (8, 1024):
            b = {
                (r["grp"]): r["v"]
                for r in weighted_quantile_bucketed(
                    df, ["grp"], "v", "w", num, den, n_buckets=nb
                ).collect()
            }
            assert a == b, (num, den, nb)


def test_changepoint_recovers_true_balance_point(spark):
    from oeem_etl_spark.operators.timeseries import changepoint_balance_fit
    from pyspark.sql import functions as F

    # y = 10 + 2*max(0, 19 - temp) exactly: the grid must pick bp=19 with
    # slope 2, intercept 10, rsq 1 (candidates straddle the truth)
    temps = [5.0, 8.0, 12.0, 15.0, 17.0, 18.5, 20.0, 25.0, 30.0, 10.0]
    rows = [
        ("m1", t, 10.0 + 2.0 * max(0.0, 19.0 - t)) for t in temps
    ]
    df = spark.createDataFrame(rows, "meter string, temp double, y double")
    got = changepoint_balance_fit(
        df, ["meter"], F.col("temp"), F.col("y"),
        candidates=range(14, 23), y_scale=3,
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert r["balance_point"] == 19
    assert abs(r["slope"] - 2.0) < 1e-6
    assert abs(r["intercept"] - 10.0) < 1e-6
    assert abs(r["rsq"] - 1.0) < 1e-6


def test_apply_cdc_delete_update_insert_seq(spark):
    from oeem_etl_spark.operators.relational import apply_cdc

    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    )
    feed = spark.createDataFrame(
        [
            (2, "b1", "U", 1), (2, "b2", "U", 2),  # latest wins
            (3, "c", "D", 1),                        # delete
            (4, "d", "I", 1),                        # insert
        ],
        "id long, v string, op string, seq int",
    )
    got = sorted(
        (r["id"], r["v"]) for r in apply_cdc(target, feed, ["id"]).collect()
    )
    assert got == [(1, "a"), (2, "b2"), (4, "d")]


def test_weighted_quantile_excludes_null_values(spark):
    from oeem_etl_spark.operators.relational import (
        weighted_quantile,
        weighted_quantile_bucketed,
    )

    # NULL value carries weight 10 — it must NOT shift the median (engines
    # disagree on where NULLs sort in a cumulative window, so the contract
    # is exclusion)
    df = spark.createDataFrame(
        [("g", None, 10), ("g", 1.0, 1), ("g", 2.0, 1)],
        "grp string, v double, w int",
    )
    for fn in (weighted_quantile, weighted_quantile_bucketed):
        got = fn(df, ["grp"], "v", "w", 1, 2).collect()
        assert [(r["grp"], r["v"]) for r in got] == [("g", 1.0)], fn.__name__


# ---------------------------------------------------------------------------
# exact-substring (windowed) dedup
# ---------------------------------------------------------------------------


def _substring_ref(rows, window):
    """Python reference for substring_dedup: window content in >= 2 docs,
    canonical (min doc) keeps its occurrences, others drop covered
    positions."""
    from collections import defaultdict

    wins = defaultdict(list)
    for k, t in rows:
        ws = t.split(" ")
        for i in range(len(ws) - window + 1):
            wins[" ".join(ws[i : i + window])].append((k, i))
    drop = defaultdict(set)
    for occ in wins.values():
        docs = {k for k, _ in occ}
        if len(docs) >= 2:
            canon = min(docs)
            for k, i in occ:
                if k != canon:
                    drop[k].update(range(i, i + window))
    out = {}
    for k, t in rows:
        ws = t.split(" ")
        out[k] = (
            " ".join(w for i, w in enumerate(ws) if i not in drop[k]),
            len(ws),
            len(drop[k]),
        )
    return out


def test_substring_dedup_matches_python_reference(spark):
    rows = [
        (1, "a b c d e f g h i j"),  # canonical holder of the shared span
        (2, "x y a b c d e f q r s t"),  # mid-doc copy of a..f
        (3, "a b c d e f g h i j"),  # full duplicate -> emptied
        (4, "short text"),  # below window size
        (5, "u v w p q r s t u v w zz a b c d e f yy"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["text_deduped"], r["n_words"], r["dup_words"])
        for r in dedup.substring_dedup(
            df, "doc_id", "text", window=6, hash_windows=False
        ).collect()
    }
    assert got == _substring_ref(rows, 6)


def test_substring_dedup_hash_and_string_keys_agree(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    a = dedup.substring_dedup(docs, "doc_id", "text", window=8, hash_windows=True)
    b = dedup.substring_dedup(docs, "doc_id", "text", window=8, hash_windows=False)
    rows_a = sorted((r["doc_id"], r["text_deduped"]) for r in a.collect())
    rows_b = sorted((r["doc_id"], r["text_deduped"]) for r in b.collect())
    assert rows_a == rows_b  # xxhash64 keys are collision-free here


def test_duplicate_window_spans_merges_overlaps(spark):
    # doc 2 repeats doc 1's 8 words at positions 2..9 and 6..13: the two
    # droppable 4-windows overlap and must merge into one [2, 13] span.
    rows = [
        (1, "p q r s t u v w"),
        (2, "x y p q r s p q r s t u v w z"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = sorted(
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dedup.duplicate_window_spans(
            df, "doc_id", "text", window=4, hash_windows=False
        ).collect()
    )
    assert all(d == 2 for d, _s, _e in spans)
    # spans are disjoint, merged, and cover exactly the reference's
    # dropped-word count (overlapping windows collapsed to one island)
    assert spans == sorted(spans, key=lambda r: r[1])
    assert all(a[2] < b[1] - 1 + 1 for a, b in zip(spans, spans[1:]))
    covered = sum(e - s + 1 for _d, s, e in spans)
    assert covered == _substring_ref(rows, 4)[2][2]
    assert len(spans) == 1  # the two overlapping windows merged


def test_substring_dedup_window_guard(spark):
    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        dedup.duplicate_window_spans(df, "doc_id", "text", window=1)


def test_asof_align_broadcast_equals_keyless_asof_join(spark):
    """The r9 scale finding: a constant-key asof_join funnels the fact
    side through ONE window partition; asof_align_broadcast is the
    broadcast interval-join replacement for dimension-sized right sides.
    Pin value-equality on the edges: rows BEFORE the first boundary
    (NULL), exactly ON a boundary (inclusive), between, and after the
    last boundary."""
    from oeem_etl_spark.operators.relational import (
        asof_align_broadcast,
        asof_join,
    )

    left = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["2023-12-31 23:59:59", "2024-01-01 00:00:00",
             "2024-01-01 07:12:00", "2024-01-02 00:00:00",
             "2024-03-01 00:00:00"])],
        "id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    grid = spark.createDataFrame(
        [(t,) for t in ["2024-01-01 00:00:00", "2024-01-01 06:00:00",
                        "2024-01-02 00:00:00"]],
        "boundary string",
    ).withColumn("boundary", F.col("boundary").cast("timestamp"))

    got = {
        r["id"]: r["boundary"]
        for r in asof_align_broadcast(
            left, grid, "ts", "boundary", ["boundary"]
        ).collect()
    }
    want = {
        r["id"]: r["boundary"]
        for r in asof_join(
            left.withColumn("__k", F.lit(1)),
            grid.withColumn("__k", F.lit(1)),
            keys=["__k"],
            left_ts="ts",
            right_ts="boundary",
            value_cols=["boundary"],
        ).collect()
    }
    assert got == want, (got, want)
    assert got[0] is None  # before the first boundary
    assert str(got[1]) == "2024-01-01 00:00:00"  # exact boundary inclusive
    assert str(got[2]) == "2024-01-01 06:00:00"
    assert str(got[4]) == "2024-01-02 00:00:00"  # after last boundary

    # inner mode drops the pre-first-boundary row (DuckDB bare ASOF JOIN)
    inner_ids = {
        r["id"]
        for r in asof_align_broadcast(
            left, grid, "ts", "boundary", ["boundary"], how="inner"
        ).collect()
    }
    assert inner_ids == {1, 2, 3, 4}


def test_asof_align_broadcast_numeric_ts_and_collision(spark):
    """r9 review pins: (a) a NUMERIC ts column must still match the last
    boundary (the old typed '9999-01-01' sentinel cast to NULL for longs
    and silently unmatched everything after it); (b) a value_col that
    collides with a left column takes the RIGHT side's value, matching
    asof_join's precedence."""
    from oeem_etl_spark.operators.relational import asof_align_broadcast

    left = spark.createDataFrame(
        [(0, 5, "stale"), (1, 15, "stale"), (2, 95, "stale")],
        "id long, t long, label string",
    )
    right = spark.createDataFrame(
        [(10, "a"), (20, "b")], "t long, label string"
    )
    got = {
        r["id"]: r["label"]
        for r in asof_align_broadcast(
            left, right, "t", "t", ["label"]
        ).collect()
    }
    # id 0 precedes the first boundary -> NULL (NOT left's 'stale');
    # id 2 is far past the LAST boundary and must still match it
    assert got == {0: None, 1: "a", 2: "b"}, got
