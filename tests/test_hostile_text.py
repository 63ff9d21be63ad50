"""Hostile-text sweep: the operator paths a crawl
corpus stresses first — xxh64 bytes, shingles, BPE, substring dedup —
driven with empty strings, NULs, 4-byte UTF-8, combining marks, and
100k-char single-token docs. The registry twins live in
plans/hostile_queries.py (x1-x5, full DuckDB oracles); these tests pin
the operator-level behavior and the regression the sweep found."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oeem_etl_spark.operators import bpe, dedup
from oeem_etl_spark.plans.hostile_queries import HOSTILE_DOCS
from oeem_etl_spark.plans.xxh64_sql import py_xxh64_bytes


def _hostile_df(spark):
    return spark.createDataFrame(HOSTILE_DOCS, "doc_id int, text string")


def test_top_pair_single_symbol_word(spark):
    # Regression (found by x3): a word whose symbols fully merged to ONE
    # element made top_pair's pair-explode evaluate sequence(1, 0) —
    # which Spark generates DESCENDING as [1, 0] — and element_at(syms,
    # 2) threw under ANSI. Single-symbol words must contribute no pairs.
    words = spark.createDataFrame(
        [("tok", 50, ["tok</w>"]), ("ab", 3, ["a", "b</w>"])],
        "word string, freq long, syms array<string>",
    )
    assert bpe.top_pair(words) == ("a", "b</w>", 3)
    only_merged = spark.createDataFrame(
        [("tok", 50, ["tok</w>"])], "word string, freq long, syms array<string>"
    )
    assert bpe.top_pair(only_merged) is None


def test_word_freq_max_word_len_guard(spark):
    docs = _hostile_df(spark)
    words = bpe.word_freq(docs, "text", max_word_len=64)
    longest = words.agg(F.max(F.length("word"))).collect()[0][0]
    assert longest is not None and longest <= 64
    # without the guard the 100k-char word rides into the vocabulary
    unguarded = bpe.word_freq(docs, "text")
    assert unguarded.agg(F.max(F.length("word"))).collect()[0][0] == 100_000


def test_shingles_degenerate_docs(spark):
    # empty / whitespace / NULL text all collapse to a singleton shingle
    # set (the [''] convention the l2/x2 oracles mirror), never NULL.
    df = spark.createDataFrame(
        [(1, ""), (2, " "), (3, None)], "doc_id int, text string"
    )
    rows = df.select(
        "doc_id", dedup.shingles("text", 3).alias("s")
    ).orderBy("doc_id").collect()
    assert rows[0]["s"] == [""]
    assert rows[1]["s"] == [" "]
    assert rows[2]["s"] == [""]


def test_xxh64_hostile_bytes():
    # The pure-Python mirror (pinned against F.xxhash64 in
    # tests/test_xxh64_sql.py) on the hostile byte shapes: NUL-bearing
    # and 4-byte-UTF-8 inputs are ordinary bytes to XXH64.
    def signed(u: int) -> int:
        return u - (1 << 64) if u >= 1 << 63 else u

    known_empty = py_xxh64_bytes(b"")
    # F.xxhash64('') in Spark (py_xxh64_bytes returns the unsigned form)
    assert signed(known_empty) == -7444071767201028348
    assert py_xxh64_bytes(b"\x00") != known_empty
    assert py_xxh64_bytes("\U0001f30d".encode()) == py_xxh64_bytes(
        b"\xf0\x9f\x8c\x8d"
    )


def test_substring_dedup_hostile_rebuild(spark):
    # NUL / emoji tokens survive the rebuild byte-exactly; the 100k
    # single-token doc (< window tokens) is untouched; duplicated spans
    # across the repetition docs are cut from the non-canonical copy.
    docs = _hostile_df(spark).select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    out = {
        r["doc_id"]: r
        for r in dedup.substring_dedup(
            docs, "doc_id", "text", window=3, min_docs=2, hash_windows=False
        ).collect()
    }
    assert out[5]["text_deduped"] == "a\x00b nul\x00mid token"
    assert out[9]["text_deduped"] == "x" * 100_000
    assert out[11]["dup_words"] == 0  # canonical copy keeps its text
    assert out[12]["text_deduped"] == "" and out[12]["dup_words"] == 12
    assert out[13]["text_deduped"] == "und again"
    assert out[14]["text_deduped"] == "tail" and out[14]["dup_words"] == 20


def test_minhash_dedup_hostile_survivors(spark):
    docs = _hostile_df(spark).where(
        F.col("text").isNull() | (F.octet_length("text") <= 96)
    )
    survivors = {
        r["doc_id"]
        for r in dedup.minhash_lsh_dedup(
            docs, "doc_id", "text", threshold=0.5, num_perm=16, bands=4,
            shingle_k=3, persist_intermediate=False,
        ).collect()
    }
    # identical docs 11/12 MUST collapse to the smaller id; the empty and
    # NULL docs share the [''] singleton shingle set and collapse to 1.
    assert 11 in survivors and 12 not in survivors
    assert 1 in survivors and 15 not in survivors


def test_x5_stats_config_independent(spark, sf_dir):
    # Regression pin (found by the r7 ANSI-off re-certification sweep):
    # with spark.sql.ansi.enabled=false, legacy size(NULL) returns -1,
    # which flipped the NULL-text row's split/word counts. The query
    # guards size() behind an explicit null check — results must be
    # identical under both configs.
    from oeem_etl_spark.plans.hostile_queries import x5_hostile_text_stats

    prev = spark.conf.get("spark.sql.ansi.enabled")
    on = [tuple(r) for r in x5_hostile_text_stats(spark, sf_dir).collect()]
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        off = [tuple(r) for r in x5_hostile_text_stats(spark, sf_dir).collect()]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert on == off


@pytest.mark.parametrize("window", [2, 3])
def test_duplicate_window_spans_empty_and_giant(spark, window):
    # no windows from sub-window docs (empty, single 100k token) — and no
    # crash: the posexplode arm must produce a typed empty array.
    docs = spark.createDataFrame(
        [(1, ""), (2, "x" * 100_000), (3, None)], "doc_id int, text string"
    )
    assert (
        dedup.duplicate_window_spans(
            docs, "doc_id", "text", window=window, min_docs=2,
            hash_windows=False,
        ).count()
        == 0
    )


def test_fuzzy_join_unicode_symspell_matches_bruteforce(spark):
    """x6's oracle corpus is restricted to 1-byte code points because
    DuckDB's levenshtein is byte-level while Spark's is code-point-level
    (probed 2026-08-16: 'é'+combining vs precomposed 'é' is 2 vs 3;
    one 4-byte emoji insert is 1 vs 4). This pins the MULTI-BYTE face
    Spark-internally: SymSpell deletion-neighborhood candidates + verify
    must equal Spark's own brute-force quadratic on emoji / fullwidth /
    combining-mark names."""
    from pyspark.sql import functions as F

    from oeem_etl_spark.operators.text import fuzzy_join

    globe = "\U0001f30d"
    names = [
        (1, f"{globe}meter"),
        (2, "meter"),            # emoji deletion -> dist 1
        (3, f"{globe}meters"),   # dist 1 vs 1
        (4, "ｆｕｌｌ"),          # fullwidth
        (5, "ｆｕｌ"),            # dist 1 vs 4
        (6, "café"),       # e + combining acute
        (7, "café"),             # precomposed: dist 2 vs 6 (é != e,´)
        (8, "cafe"),             # dist 1 vs both 6 and 7
    ]
    df = spark.createDataFrame(names, "id int, name string")
    left = df.select(F.col("id").alias("a_id"), F.col("name").alias("a_name"))
    right = df.select(F.col("id").alias("b_id"), F.col("name").alias("b_name"))
    got = sorted(
        (r["a_id"], r["b_id"], r["dist"])
        for r in fuzzy_join(left, right, "a_name", "b_name", max_dist=1)
        .where(F.col("a_id") < F.col("b_id"))
        .collect()
    )
    brute = sorted(
        (r["a_id"], r["b_id"], r["dist"])
        for r in left.crossJoin(right)
        .withColumn("dist", F.levenshtein("a_name", "b_name"))
        .where((F.col("a_id") < F.col("b_id")) & (F.col("dist") <= 1))
        .collect()
    )
    assert got == brute
    assert (1, 2, 1) in got and (4, 5, 1) in got and (6, 8, 1) in got
    # precomposed é vs e+combining is TWO code-point edits in Spark
    assert not any(a == 6 and b == 7 for a, b, _ in got)
