"""Declared corpus-curation queries (training-data pipeline, §2.L-ext).

Benchmark decontamination, sequence packing, domain-mixture sampling, and
repetition-based quality signals over the ``documents`` fixture — the
curation steps between raw ingest and tokenized shards that SURVEY.md §2.L
doesn't already cover. All four are pure relational/array compositions, so
each carries a full DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from oeem_etl_spark.catalog import local_frame
from oeem_etl_spark.operators import corpus
from oeem_etl_spark.plans.registry import query
from oeem_etl_spark.plans.util import T

# DuckDB mirror of operators/text.py ngrams_from_tokens: i ranges over
# 1..len-n+1 (empty when fewer than n tokens), slice is inclusive.
_SQL_GRAMS_5 = (
    "list_transform(range(1, greatest(len(t) - 4, 0) + 1),"
    " i -> array_to_string(t[i:i+4], ' '))"
)


@query(
    "l19_decontaminate",
    sql=f"""
    WITH toks AS (SELECT doc_id, lang, source, string_split(text, ' ') AS t
                  FROM documents),
    grams AS (
      SELECT doc_id, source, unnest({_SQL_GRAMS_5}) AS gram FROM toks
    ),
    eval_grams AS (SELECT DISTINCT gram FROM grams WHERE source = 'src0'),
    bad AS (
      SELECT DISTINCT doc_id FROM grams
      WHERE source <> 'src0' AND gram IN (SELECT gram FROM eval_grams)
    )
    SELECT doc_id, lang, source FROM documents
    WHERE source <> 'src0' AND doc_id NOT IN (SELECT doc_id FROM bad)
    """,
    tier="T3",
    survey="L2,H9,C4",
)
def l19_decontaminate(spark, sf_dir):
    """Benchmark decontamination: treat src0 as the eval set and drop every
    other document sharing any 5-gram with it. The eval gram list is
    broadcast; the corpus side never shuffles (SURVEY §4 posture)."""
    docs = T(spark, sf_dir, "documents")
    eval_df = docs.where(F.col("source") == "src0")
    rest = docs.where(F.col("source") != "src0")
    return corpus.decontaminate(rest, eval_df, "doc_id", "text", n=5).select(
        "doc_id", "lang", "source"
    )


@query(
    "l20_pack_sequences",
    sql="""
    SELECT doc_id, source, n_tokens, start_offset,
           CAST(FLOOR(start_offset / 256.0) AS BIGINT) AS pack_id
    FROM (
      SELECT doc_id, source, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS start_offset
      FROM (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
            FROM documents)
    )
    """,
    tier="T3",
    survey="E3,H9",
)
def l20_pack_sequences(spark, sf_dir):
    """Concat-then-chunk sequence packing into 256-token packs, partitioned
    by source (each partition's window is independent → scales by shard)."""
    docs = T(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    packed = corpus.pack_sequences(
        docs, "doc_id", "n_tokens", budget=256, partition_by="source"
    )
    return packed.select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "start_offset",
        "pack_id",
    )


@query(
    "l21_domain_mixture",
    sql="""
    WITH w(source, wt) AS (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)),
    counts AS (
      SELECT d.source, wt, COUNT(*) AS n
      FROM documents d JOIN w ON d.source = w.source
      GROUP BY d.source, wt
    ),
    scale AS (SELECT MIN(n / wt) AS s FROM counts),
    quota AS (
      SELECT source, CAST(FLOOR(s * wt) AS BIGINT) AS q FROM counts, scale
    ),
    ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    )
    SELECT doc_id, r.source FROM ranked r JOIN quota USING (source)
    WHERE rn <= q
    """,
    tier="T3",
    survey="B8,D1,E1",
)
def l21_domain_mixture(spark, sf_dir):
    """Deterministic domain-mixture downsample to 50/30/20 across
    src0/src1/src2 — the largest subcorpus achieving the exact mixture,
    selected by md5-keyed per-stratum prefixes (stable across engines)."""
    docs = T(spark, sf_dir, "documents")
    out = corpus.stratified_mixture_sample(
        docs, "doc_id", "source", {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    )
    return out.select("doc_id", "source")


@query(
    "l22_repetition_stats",
    sql="""
    WITH b AS (
      SELECT doc_id, t,
             list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                            i -> array_to_string(t[i:i+1], ' ')) AS bg
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    )
    SELECT doc_id,
           len(t) AS n_tokens,
           CASE WHEN len(bg) > 0
                THEN round(1.0 - len(list_distinct(bg)) * 1.0 / len(bg), 6)
                ELSE 0.0 END AS dup_bigram_frac,
           round(list_max(list_transform(list_distinct(t),
                   tok -> len(list_filter(t, x -> x = tok)))) * 1.0 / len(t), 6)
             AS top_token_frac
    FROM b
    """,
    tier="T3",
    survey="L7,H8",
)
def l22_repetition_stats(spark, sf_dir):
    """Gopher-style repetition quality signals per document. Per-row array
    expressions only; the top-token count is an O(n log n) sorted
    run-length fold (r9 — formerly an O(distinct·tokens) filter scan per
    distinct token), embarrassingly parallel. The oracle keeps the
    quadratic list_filter form: same integers either way."""
    docs = T(spark, sf_dir, "documents")
    out = corpus.repetition_stats(docs, "doc_id", "text")
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "dup_bigram_frac",
        "top_token_frac",
    )


@query(
    "l20b_pack_no_straddle",
    # PROMOTED from rows-only: FFD IS SQL-expressible as a
    # list_reduce fold (the h19-soundex playbook, scaled up). Per source,
    # items sort (tokens DESC, doc_id ASC) and fold over a flat BIGINT
    # state [k, a_1..a_k, caps...]: acc[1]=items processed, acc[2:k+1]
    # their pack ids, the tail = remaining capacity per open pack. Each
    # step either opens a pack (oversize tok>=256 -> cap 0; or no first
    # fit: list_position(...)=0 -> cap 256-tok) or decrements the first
    # fitting pack via an index lambda. NOTE the accumulator is a plain
    # list on purpose: DuckDB 1.0's list_reduce mis-binds STRUCT
    # accumulator fields referenced multiple times in one lambda.
    sql="""
    WITH items AS (
      SELECT source, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    grouped AS (
      SELECT source,
             list(struct_pack(doc_id := doc_id, tok := n_tokens)
                  ORDER BY n_tokens DESC, doc_id ASC) AS its
      FROM items GROUP BY source
    ),
    folded AS (
      SELECT source, its,
        list_reduce(
          list_prepend(CAST([0] AS BIGINT[]),
                       list_transform(its, t -> [t.tok]::BIGINT[])),
          (acc, x) -> CASE
            WHEN x[1] >= 256 OR list_position(list_transform(
                   acc[CAST(acc[1] AS INT)+2:], c -> c >= x[1]), true) = 0
            THEN list_concat(
                   list_concat(
                     list_prepend(acc[1]+1, acc[2:CAST(acc[1] AS INT)+1]),
                     [CAST(len(acc) - acc[1] - 1 AS BIGINT)]),
                   list_append(acc[CAST(acc[1] AS INT)+2:],
                               CAST(CASE WHEN x[1] >= 256 THEN 0
                                         ELSE 256 - x[1] END AS BIGINT)))
            ELSE list_concat(
                   list_concat(
                     list_prepend(acc[1]+1, acc[2:CAST(acc[1] AS INT)+1]),
                     [list_position(list_transform(
                        acc[CAST(acc[1] AS INT)+2:], c -> c >= x[1]), true) - 1]),
                   list_transform(acc[CAST(acc[1] AS INT)+2:], (c, i) ->
                     CASE WHEN i = list_position(list_transform(
                            acc[CAST(acc[1] AS INT)+2:], c2 -> c2 >= x[1]), true)
                          THEN c - x[1] ELSE c END))
          END) AS st
      FROM grouped
    ),
    flat AS (
      SELECT source, unnest(its) AS it,
             unnest(st[2:CAST(st[1] AS INT)+1]) AS pack_id
      FROM folded
    )
    SELECT source, it.doc_id AS doc_id, it.tok AS n_tokens, pack_id,
           it.tok >= 256 AS oversize
    FROM flat
    """,
    tier="T3",
    survey="J3,E3",
)
def l20b_pack_no_straddle(spark, sf_dir):
    """No-straddle first-fit-decreasing packing per source shard
    (applyInPandas grouped-map). FFD is deterministic — (tokens desc, key
    asc) processing order — so the per-document pack assignment is
    oracle-checked end to end against a DuckDB list_reduce fold of the
    same spec; exact fixtures additionally pinned in tests/test_corpus.py."""
    from oeem_etl_spark.operators.corpus import pack_sequences_no_straddle

    docs = T(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    return pack_sequences_no_straddle(
        docs, "doc_id", "n_tokens", budget=256, partition_by="source"
    )


@query(
    "l25_chunk_documents",
    sql="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    starts AS (
      SELECT doc_id, t,
             unnest(range(0, CAST(ceil(greatest(len(t) - 128, 0) / 64.0) AS BIGINT) + 1))
               AS chunk_id
      FROM toks
    )
    SELECT doc_id, chunk_id,
           array_to_string(t[chunk_id * 64 + 1 : chunk_id * 64 + 128], ' ')
             AS chunk_text,
           len(t[chunk_id * 64 + 1 : chunk_id * 64 + 128]) AS n_chunk_tokens
    FROM starts
    """,
    tier="T3",
    survey="H7,H9,L5",
)
def l25_chunk_documents(spark, sf_dir):
    """Overlapping token-window chunking (128-token chunks, stride 64) —
    the RAG/pretraining windowing staple; chunk boundaries and counts are
    pure integer arithmetic, fully oracle-checkable."""
    docs = T(spark, sf_dir, "documents")
    return corpus.chunk_documents(docs, "doc_id", "text", chunk_tokens=128, stride=64)


@query(
    "l27_corpus_pipeline",
    sql=r"""
    WITH dedup AS (
      SELECT doc_id, lang, text FROM (
        SELECT doc_id, lang, text,
               row_number() OVER (
                 PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
                 ORDER BY doc_id) AS rn
        FROM documents
      ) WHERE rn = 1
    ), quality AS (
      SELECT doc_id, lang, text FROM dedup
      WHERE length(text) >= 50
        AND len(str_split(text, ' ')) >= 10
        AND CAST(len(list_distinct(str_split(text, ' '))) AS DOUBLE)
            / len(str_split(text, ' ')) >= 0.2
    ), train AS (
      SELECT doc_id, lang, text FROM quality
      WHERE (ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256
             + ascii(substr(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 100 < 80
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM train GROUP BY lang
    """,
    tier="T3",
    survey="L1,L7,B8,D1",
)
def l27_corpus_pipeline(spark, sf_dir):
    """The curation funnel END TO END in one declarative plan: exact dedup
    (digest shuffle, smallest doc_id survives) → quality gate (length /
    token-count / distinct-token-ratio) → deterministic train split
    (md5-bucket projection) → per-language document and token accounting.
    Every stage is the same operator the standalone queries verify
    (l1 / l13 / l17) — this query proves they COMPOSE: one job, one digest
    shuffle plus one final two-phase aggregation, filters and the split
    projection fused into the scan-side stages by Catalyst, nothing
    materialized between stages.

    The near-dup (minhash) and packing stages are deliberately absent
    here: their xxhash64-based internals aren't oracle-expressible, so
    they're verified separately (l2 family, l20) — this is the maximal
    fully-oracle-checkable slice of the pipeline."""
    from oeem_etl_spark.operators import dedup as dd
    from oeem_etl_spark.operators import text as tx
    from oeem_etl_spark.operators.splits import deterministic_split

    docs = T(spark, sf_dir, "documents")
    survivors = dd.exact_dedup(docs, "text", "doc_id")
    gated = tx.quality_filter(
        survivors, "text", min_chars=50, min_tokens=10, min_distinct_ratio=0.2
    )
    train = deterministic_split(gated, "doc_id").where(F.col("split") == "train")
    return train.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@query(
    "l33_contamination_score",
    sql=f"""
    WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t
                  FROM documents),
    eval_grams AS (
      SELECT DISTINCT unnest({_SQL_GRAMS_5}) AS gram FROM toks
      WHERE source = 'src0'
    ),
    grams AS (
      SELECT doc_id, unnest({_SQL_GRAMS_5}) AS gram FROM toks
      WHERE source <> 'src0'
    ),
    hits AS (
      SELECT g.doc_id,
             COUNT(*) AS n_grams,
             COUNT(e.gram) AS n_hit
      FROM grams g LEFT JOIN eval_grams e USING (gram)
      GROUP BY g.doc_id
    )
    SELECT d.doc_id,
           COALESCE(h.n_grams, 0) AS n_grams,
           COALESCE(h.n_hit, 0) AS n_hit,
           CASE WHEN COALESCE(h.n_grams, 0) > 0
                THEN round(h.n_hit * 1.0 / h.n_grams, 6) ELSE 0.0
           END AS hit_frac
    FROM toks d LEFT JOIN hits h USING (doc_id)
    WHERE d.source <> 'src0'
    """,
    tier="T3",
    survey="L2,H9,D1",
)
def l33_contamination_score(spark, sf_dir):
    """Scored decontamination report (the l19 rule's quantitative twin):
    per-document occurrence-weighted 5-gram overlap against the src0 eval
    set. The threshold policy ("drop above X% overlap") reads off this
    frame; eval grams broadcast, corpus never shuffles before the per-doc
    count."""
    docs = T(spark, sf_dir, "documents")
    eval_df = docs.where(F.col("source") == "src0")
    rest = docs.where(F.col("source") != "src0")
    return corpus.contamination_score(rest, eval_df, "doc_id", "text", n=5)


@query(
    "l34_quality_quantile_gate",
    sql="""
    WITH base AS (
      SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    thr AS (
      SELECT lang, quantile_cont(n_tokens, 0.25) AS t FROM base GROUP BY lang
    )
    SELECT doc_id, lang, n_tokens
    FROM base JOIN thr USING (lang) WHERE n_tokens >= t
    """,
    tier="T3",
    survey="L7,D6,C9",
)
def l34_quality_quantile_gate(spark, sf_dir):
    """Adaptive quality gate: keep documents at/above their language's
    exact P25 token count — the data-driven alternative to l13's fixed
    constants for low-resource strata. The per-group threshold frame is
    rows=n_langs and broadcast back; the corpus filters with no shuffle."""
    docs = T(spark, sf_dir, "documents")
    out = corpus.quality_quantile_gate(docs, "doc_id", "text", "lang", q=0.25)
    return out.select("doc_id", "lang", F.col("n_tokens").cast("long").alias("n_tokens"))


@query(
    "l35_token_budget_select",
    sql="""
    WITH base AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             CAST(SUM(n_tokens) OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tokens
      FROM base
    )
    SELECT doc_id, source, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 400
    """,
    tier="T3",
    survey="E3,B8,L5",
)
def l35_token_budget_select(spark, sf_dir):
    """Fixed token budget per source: md5-ordered prefix until 400 tokens —
    the "assemble an exactly-N-token mix per domain" primitive. One window
    over a 3-column projection; text bytes never shuffle."""
    docs = T(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    return corpus.token_budget_select(
        docs, "doc_id", "n_tokens", budget=400, partition_by="source"
    )


@query(
    "l37_dedup_rate_report",
    sql=r"""
    WITH d AS (
      SELECT doc_id, source,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS dg
      FROM documents
    ),
    per AS (
      SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT dg) AS n_unique
      FROM d GROUP BY source
    )
    SELECT source, n_docs, n_unique,
           n_docs - n_unique AS n_dups,
           ROUND((n_docs - n_unique) * 1.0 / n_docs, 6) AS dup_rate
    FROM per
    """,
    tier="T3",
    survey="L1,D2,D1",
)
def l37_dedup_rate_report(spark, sf_dir):
    """Per-source exact-duplicate rate report (the curation dashboard
    number behind the l1 dedup): docs, distinct normalized digests, and
    the dup fraction — one count-distinct aggregate over 16-byte digests;
    text bytes never shuffle."""
    from oeem_etl_spark.operators.dedup import normalize_text

    docs = T(spark, sf_dir, "documents")
    d = docs.select("source", F.md5(normalize_text("text")).alias("dg"))
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("dg").alias("n_unique"),
    )
    dups = F.col("n_docs") - F.col("n_unique")
    return per.select(
        "source", "n_docs", "n_unique",
        dups.alias("n_dups"),
        F.round(dups / F.col("n_docs"), 6).alias("dup_rate"),
    )


@query(
    "l38_curriculum_stages",
    sql="""
    WITH scored AS (
      SELECT doc_id, lang,
             round(len(list_distinct(string_split(text, ' '))) * 1.0
                   / len(string_split(text, ' ')), 6) AS q_score
      FROM documents
    )
    SELECT doc_id, lang, q_score,
           ntile(4) OVER (PARTITION BY lang ORDER BY q_score, doc_id) AS stage
    FROM scored
    """,
    tier="T3",
    survey="L7,E1,B8",
)
def l38_curriculum_stages(spark, sf_dir):
    """Curriculum staging (quality-staged pretraining order): documents
    are quartiled per language by a lexical-diversity score — stage 1 is
    the lowest-quality quartile, stage 4 the highest, giving the sampler
    a quality ramp. The (score, doc_id) order is unique, so stages are
    deterministic; one window per language partition on a 3-column
    projection."""
    docs = T(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    score = F.round(F.size(F.array_distinct(toks)) / F.size(toks), 6)
    w = Window.partitionBy("lang").orderBy("q_score", "doc_id")
    return (
        docs.select("doc_id", "lang", score.alias("q_score"))
        .withColumn("stage", F.ntile(4).over(w))
    )


@query(
    "l39_oov_rate",
    sql="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    counts AS (SELECT t, COUNT(*) AS n FROM tok GROUP BY t),
    vocab AS (SELECT t FROM counts ORDER BY n DESC, t LIMIT 20),
    per AS (
      SELECT doc_id, COUNT(*) AS n_tok, COUNT(v.t) AS n_in
      FROM tok LEFT JOIN vocab v USING (t) GROUP BY doc_id
    )
    SELECT doc_id, n_tok, n_in,
           round((n_tok - n_in) * 1.0 / n_tok, 6) AS oov_rate
    FROM per
    """,
    tier="T3",
    survey="L5,L7,F3,D1",
)
def l39_oov_rate(spark, sf_dir):
    """Vocabulary build + out-of-vocabulary audit (tokenizer-prep staple):
    global top-20 tokens by frequency (deterministic count-desc/token-asc
    tie-break, a TakeOrdered global top-k), then each document's OOV
    fraction against that vocab. The vocab is broadcast back, so the
    per-doc pass adds one map-combinable count — the corpus shuffles only
    for the token counts."""
    docs = T(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    counts = tok.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    vocab = (
        counts.orderBy(F.col("n").desc(), F.col("t").asc())
        .limit(20)
        .select("t", F.lit(1).alias("__in"))
    )
    per = (
        tok.join(F.broadcast(vocab), "t", "left")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tok"), F.count("__in").alias("n_in"))
    )
    return per.select(
        "doc_id", "n_tok", "n_in",
        F.round((F.col("n_tok") - F.col("n_in")) / F.col("n_tok"), 6).alias("oov_rate"),
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training (Sennrich et al. 2016) — operators/bpe.py. The
# oracle unrolls every merge round into CTEs: pair counts are exact integer
# sums and the greedy left-to-right merge is reproduced positionally (a
# candidate run takes its even offsets — equivalent to the fold in
# bpe.merge_expr, see tests/test_bpe.py for the property proof).
# ---------------------------------------------------------------------------

_BPE_MERGES = 8
_BPE_TOP_WORDS = 200


def _merge_round(i: int, src: str, dst: str, pfx: str) -> str:
    """CTEs applying the round-``i`` merge pair (b{i}) to the (word, freq,
    syms) table ``src``, producing ``dst`` — the run-parity positional
    form of bpe.merge_expr (a candidate run takes its even offsets).
    ``pfx`` namespaces the intermediates so the training chain and the
    held-out apply chain can coexist in one statement."""
    return f"""{pfx}x{i} AS MATERIALIZED (
      SELECT word, freq, unnest(syms) AS sym,
             unnest(range(1, len(syms) + 1)) AS pos
      FROM {src}
    ),
    {pfx}m{i} AS MATERIALIZED (
      SELECT word, freq, sym, pos,
             CASE WHEN sym = (SELECT l FROM b{i})
                   AND lead(sym) OVER (PARTITION BY word ORDER BY pos)
                       = (SELECT r FROM b{i})
                  THEN 1 ELSE 0 END AS cand
      FROM {pfx}x{i}
    ),
    {pfx}g{i} AS MATERIALIZED (
      SELECT *, pos - row_number()
                  OVER (PARTITION BY word, cand ORDER BY pos) AS grp
      FROM {pfx}m{i}
    ),
    {pfx}t{i} AS MATERIALIZED (
      SELECT word, freq, sym, pos,
             CASE WHEN cand = 1
                   AND (pos - MIN(pos) OVER (PARTITION BY word, cand, grp)) % 2 = 0
                  THEN 1 ELSE 0 END AS take
      FROM {pfx}g{i}
    ),
    {pfx}r{i} AS MATERIALIZED (
      SELECT word, freq, pos,
             CASE WHEN take = 1 THEN sym || (SELECT r FROM b{i}) ELSE sym END AS osym,
             COALESCE(lag(take) OVER (PARTITION BY word ORDER BY pos), 0) AS dropped
      FROM {pfx}t{i}
    ),
    {dst} AS MATERIALIZED (
      SELECT word, freq, list(osym ORDER BY pos) AS syms
      FROM {pfx}r{i} WHERE dropped = 0 GROUP BY word, freq
    )"""


def _bpe_cte(
    n_merges: int = _BPE_MERGES,
    top_words: int = _BPE_TOP_WORDS,
    src: str = "documents",
    max_word_len: int | None = None,
    pre_ctes: str = "",
) -> str:
    """Unrolled BPE-training CTE chain over the ``text`` column of ``src``.

    ``max_word_len`` mirrors bpe.word_freq's adversarial-input guard;
    ``pre_ctes`` lets a caller prepend its own CTEs (e.g. an inline
    hostile-corpus VALUES table) before the chain."""
    cap = f"WHERE length(word) <= {max_word_len}" if max_word_len else ""
    parts = [
        f"""toks AS MATERIALIZED (
      SELECT word FROM (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        FROM {src}
      ) {cap}
    ),
    wf AS MATERIALIZED (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM toks
      GROUP BY word ORDER BY freq DESC, word LIMIT {top_words}
    ),
    w0 AS MATERIALIZED (
      SELECT word, freq,
             list_append(regexp_extract_all(word, '.'), '</w>') AS syms
      FROM wf
    )"""
    ]
    for i in range(1, n_merges + 1):
        p = i - 1
        parts.append(
            f"""p{i} AS MATERIALIZED (
      SELECT l, r, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
        SELECT freq, unnest(syms[1:len(syms)-1]) AS l,
               unnest(syms[2:len(syms)]) AS r
        FROM w{p}
      ) GROUP BY l, r
    ),
    b{i} AS MATERIALIZED (SELECT l, r, cnt FROM p{i} ORDER BY cnt DESC, l, r LIMIT 1),
    {_merge_round(i, f"w{p}", f"w{i}", "")}"""
        )
    return "WITH " + pre_ctes + ",\n    ".join(parts)


def _bpe_apply_cte(where: str, n_merges: int = _BPE_MERGES) -> str:
    """Apply chain: the distinct words of the ``where``-filtered documents
    run the SAME n trained merge rules (b1..bn from the training chain),
    round by round — BPE apply for in-vocabulary AND unseen words alike."""
    parts = [
        f"""a0 AS MATERIALIZED (
      SELECT word, CAST(1 AS BIGINT) AS freq,
             list_append(regexp_extract_all(word, '.'), '</w>') AS syms
      FROM (
        SELECT DISTINCT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        FROM documents WHERE {where}
      )
    )"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(_merge_round(i, f"a{i-1}", f"a{i}", "a"))
    return ",\n    ".join(parts)


_BPE_CTE = _bpe_cte()
_BPE_MERGE_UNION = " UNION ALL ".join(
    f"SELECT CAST({i} AS INTEGER) AS step, l AS left_sym, r AS right_sym,"
    f" l || r AS merged, cnt AS pair_count FROM b{i}"
    for i in range(1, _BPE_MERGES + 1)
)


@query(
    "l64_bpe_train",
    sql=f"""
    {_BPE_CTE}
    SELECT step, left_sym, right_sym, merged, pair_count
    FROM ({_BPE_MERGE_UNION}) ORDER BY step
    """,
    tier="T3",
    survey="L13,L5,L-ext,H8,D1,F3",
)
def l64_bpe_train(spark, sf_dir):
    """BPE tokenizer training (Sennrich et al. 2016): 8 merge rounds over
    the corpus word-frequency table, fully oracle-checked INCLUDING the
    iterative training (each round's pair-count aggregate and greedy
    merge are unrolled into SQL). Scale: the corpus is touched once (the
    word-freq hash agg); every round after runs on the vocabulary-sized
    word table with one top-1 job and a map-only merge rewrite
    (operators/bpe.py posture notes)."""
    from oeem_etl_spark.operators import bpe

    docs = T(spark, sf_dir, "documents")
    merges, _ = bpe.bpe_train(
        docs, n_merges=_BPE_MERGES, top_words=_BPE_TOP_WORDS
    )
    return local_frame(
        spark,
        [(s, lft, rgt, lft + rgt, cnt) for s, lft, rgt, cnt in merges],
        "step int, left_sym string, right_sym string, merged string,"
        " pair_count long",
    ).orderBy("step")


@query(
    "l64b_bpe_vocab",
    sql=f"""
    {_BPE_CTE}
    SELECT sym AS token, CAST(SUM(freq) AS BIGINT) AS n_occ FROM (
      SELECT freq, unnest(syms) AS sym FROM w{_BPE_MERGES}
    ) GROUP BY sym ORDER BY n_occ DESC, token LIMIT 30
    """,
    tier="T3",
    survey="L13,L5,L-ext,D1,F3",
)
def l64b_bpe_vocab(spark, sf_dir):
    """Post-training corpus token census: top-30 learned BPE symbols by
    corpus occurrence (freq-weighted over the trained word table; ties
    break token-asc). One explode + hash agg over the vocabulary-sized
    table, then a TakeOrdered top-k — nothing corpus-shaped after the
    shared word-freq pass."""
    from oeem_etl_spark.operators import bpe

    docs = T(spark, sf_dir, "documents")
    _, words = bpe.bpe_train(docs, n_merges=_BPE_MERGES, top_words=_BPE_TOP_WORDS)
    return (
        words.select("freq", F.explode("syms").alias("token"))
        .groupBy("token")
        .agg(F.sum("freq").alias("n_occ"))
        .orderBy(F.desc("n_occ"), "token")
        .limit(30)
    )


@query(
    "l64c_bpe_token_counts",
    sql=f"""
    {_BPE_CTE},
    dwords AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      FROM documents WHERE doc_id < 120
    )
    SELECT doc_id,
           CAST(SUM(COALESCE(len(syms), length(word) + 1)) AS BIGINT)
             AS bpe_tokens
    FROM dwords LEFT JOIN w{_BPE_MERGES} USING (word)
    GROUP BY doc_id
    """,
    tier="T3",
    survey="L13,L5,L11,L-ext,C9,D1",
)
def l64c_bpe_token_counts(spark, sf_dir):
    """Token counting under the trained tokenizer: per-document BPE token
    totals via a broadcast join of document words against the trained
    word→symbols table (OOV words fall back to character-level). The
    pattern a shard-budgeting pipeline runs corpus-wide; the corpus side
    never shuffles (bpe.token_counts)."""
    from oeem_etl_spark.operators import bpe

    docs = T(spark, sf_dir, "documents").where(F.col("doc_id") < 120)
    _, words = bpe.bpe_train(
        T(spark, sf_dir, "documents"),
        n_merges=_BPE_MERGES,
        top_words=_BPE_TOP_WORDS,
    )
    return bpe.token_counts(docs, words)


@query(
    "l64d_bpe_encode",
    # Train (the shared unrolled chain, b1..b8) then APPLY: the held-out
    # docs' distinct words run the same 8 rules round by round (a-chain),
    # and per-document token sequences reassemble positionally. This is
    # the tokenizer-APPLICATION face — rules, not a lookup table, so
    # words never seen in the training vocabulary (top-200) still merge
    # wherever trained rules match.
    sql=f"""
    {_BPE_CTE},
    {_bpe_apply_cte("doc_id >= 120 AND doc_id < 160")},
    dwords AS (
      SELECT doc_id, unnest(ws) AS word,
             unnest(range(1, len(ws) + 1)) AS pos
      FROM (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
        FROM documents WHERE doc_id >= 120 AND doc_id < 160
      )
    ),
    assembled AS (
      SELECT doc_id,
             string_agg(array_to_string(syms, ' '), ' ' ORDER BY pos)
               AS bpe_text,
             CAST(SUM(len(syms)) AS BIGINT) AS n_tokens
      FROM dwords JOIN a{_BPE_MERGES} USING (word)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(a.bpe_text, '') AS bpe_text,
           COALESCE(a.n_tokens, 0) AS n_tokens
    FROM (SELECT doc_id FROM documents
          WHERE doc_id >= 120 AND doc_id < 160) d
    LEFT JOIN assembled a USING (doc_id)
    """,
    tier="T3",
    survey="L13,L5,L-ext,H8,C9,D1",
)
def l64d_bpe_encode(spark, sf_dir):
    """BPE tokenizer APPLY (the encode face training exists for): train 8
    merges on the full corpus, then tokenize 40 held-out documents —
    bpe.bpe_encode folds the trained rules over each DISTINCT word
    (vocabulary-sized map-only rewrite, nested JVM lambdas), broadcast-
    joins the corpus's (doc, pos, word) stream, and reassembles the
    space-joined token text per document. Oracle-checked byte for byte
    including unseen-word behavior (rules apply, not vocab lookup)."""
    from oeem_etl_spark.operators import bpe

    docs = T(spark, sf_dir, "documents")
    merges, _ = bpe.bpe_train(docs, n_merges=_BPE_MERGES, top_words=_BPE_TOP_WORDS)
    held_out = docs.where((F.col("doc_id") >= 120) & (F.col("doc_id") < 160))
    return bpe.bpe_encode(held_out, merges)


@query(
    "l65_kneser_ney_logprob",
    # Interpolated Kneser-Ney bigram LM (Kneser & Ney 1995; Chen & Goodman
    # 1999 — the standard n-gram smoothing) scored by the corpus's own
    # counts with fixed discount d = 0.75 (exactly representable):
    #   P(b|a) = max(c(a,b) - d, 0)/c(a) + [d·succ(a)/c(a)] · [prev(b)/T]
    # where succ(a) = distinct successors of a, prev(b) = distinct
    # predecessors of b (the continuation count), T = distinct bigram
    # types. Every ln term is micros-quantized before the mean (l55's
    # order-independence discipline).
    sql="""
    WITH tk AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
    bg AS (
      SELECT doc_id, t[i] AS a, t[i+1] AS b
      FROM tk, unnest(generate_series(1, len(t) - 1)) AS u(i)
      WHERE len(t) >= 2
    ),
    cab AS (SELECT a, b, COUNT(*) AS nab FROM bg GROUP BY a, b),
    ca AS (SELECT a, CAST(SUM(nab) AS BIGINT) AS na, COUNT(*) AS succ
           FROM cab GROUP BY a),
    cb AS (SELECT b, COUNT(*) AS prev FROM cab GROUP BY b),
    tt AS (SELECT COUNT(*) AS types FROM cab)
    SELECT doc_id, COUNT(*) AS n_bigrams,
           ROUND(SUM(CAST(ROUND(ln(
               greatest(nab - 0.75, 0) / na
               + (0.75 * succ / na) * (prev * 1.0 / types)
             ) * 1000000) AS BIGINT)) / COUNT(*) / 1000000.0, 6)
             AS mean_kn_logprob
    FROM bg JOIN cab USING (a, b) JOIN ca USING (a) JOIN cb USING (b), tt
    GROUP BY doc_id
    """,
    tier="T3",
    survey="L7,L5,D1,D2,C1,C9",
)
def l65_kneser_ney_logprob(spark, sf_dir):
    """Kneser-Ney-smoothed bigram fluency scoring — the production-grade
    upgrade of l55's Laplace model (absolute discounting + continuation
    probability; what real n-gram quality filters use). All model state
    is three aggregates OF the bigram-count table (left totals +
    successor counts, predecessor/continuation counts, type count) — the
    corpus-sized stream is scanned once into counts, persisted, and
    joined back; the model tables are vocabulary-shaped and the type
    total is a broadcast scalar. λ(a) > 0 and P_cont(b) > 0 for every
    observed bigram, so ln is total."""
    from pyspark.storagelevel import StorageLevel

    docs = T(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    bg = (
        toks.where(F.size("t") >= 2)
        .select(
            "doc_id",
            F.posexplode(F.slice("t", 1, F.size("t") - 1)).alias("i", "a"),
            F.col("t").alias("t"),
        )
        .select("doc_id", "a", F.element_at("t", F.col("i") + 2).alias("b"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    cab = bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("nab"))
    ca = cab.groupBy("a").agg(
        F.sum("nab").alias("na"), F.count(F.lit(1)).alias("succ")
    )
    cb = cab.groupBy("b").agg(F.count(F.lit(1)).alias("prev"))
    tt = cab.agg(F.count(F.lit(1)).alias("types"))
    p = F.greatest(F.col("nab") - 0.75, F.lit(0.0)) / F.col("na") + (
        0.75 * F.col("succ") / F.col("na")
    ) * (F.col("prev") * 1.0 / F.col("types"))
    lp_micros = F.round(F.log(p) * 1_000_000).cast("long")
    return (
        bg.join(cab, ["a", "b"])
        .join(ca, ["a"])
        .join(cb, ["b"])
        .crossJoin(F.broadcast(tt))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.sum(lp_micros) / F.count(F.lit(1)) / 1_000_000.0, 6).alias(
                "mean_kn_logprob"
            ),
        )
    )


@query(
    "l66_zipf_slope",
    # OLS of ln(freq) on ln(rank) over the token frequency table — the
    # Zipf-law fit (slope ≈ -1 on natural corpora) used as a corpus-health
    # metric. Each per-token term (x, y, xy, x²) is micros-quantized BEFORE
    # summing, so all four sums are exact integers and the closed-form
    # slope/intercept is the same double arithmetic in both engines.
    sql="""
    WITH freq AS (
      SELECT t, COUNT(*) AS f FROM (
        SELECT unnest(string_split(text, ' ')) AS t FROM documents
      ) GROUP BY t
    ),
    ranked AS (
      SELECT f, row_number() OVER (ORDER BY f DESC, t) AS r FROM freq
    ),
    terms AS (
      SELECT CAST(ROUND(ln(r) * 1000000) AS BIGINT) AS x,
             CAST(ROUND(ln(f) * 1000000) AS BIGINT) AS y,
             CAST(ROUND(ln(r) * ln(f) * 1000000) AS BIGINT) AS xy,
             CAST(ROUND(ln(r) * ln(r) * 1000000) AS BIGINT) AS xx
      FROM ranked
    ),
    s AS (
      SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(xy) AS BIGINT) AS sxy,
             CAST(SUM(xx) AS BIGINT) AS sxx
      FROM terms
    )
    SELECT CAST(n AS BIGINT) AS n_tokens,
           ROUND((n * sxy - CAST(sx AS DOUBLE) / 1000000 * sy)
                 / (n * sxx - CAST(sx AS DOUBLE) / 1000000 * sx), 6) AS slope,
           ROUND((CAST(sy AS DOUBLE) - ((n * sxy - CAST(sx AS DOUBLE) / 1000000 * sy)
                 / (n * sxx - CAST(sx AS DOUBLE) / 1000000 * sx)) * sx)
                 / n / 1000000, 6) AS intercept
    FROM s
    """,
    tier="T3",
    survey="L7,L5,D1,E1,H5",
)
def l66_zipf_slope(spark, sf_dir):
    """Zipf-law fit over the corpus token frequency distribution: OLS of
    ln(freq) on ln(rank), slope ≈ -1 on natural text — drifts flag
    boilerplate floods or tokenizer breakage. One token-count hash agg,
    one vocabulary-sized rank window, four exact integer sums (each
    ln-term micros-quantized pre-sum), closed-form fit — identical
    double arithmetic on both engines."""
    from pyspark.sql import Window

    docs = T(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    ranked = freq.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("f"), "t"))
    )
    q = lambda c: F.round(c * 1_000_000).cast("long")  # noqa: E731
    lnr, lnf = F.log("r"), F.log("f")
    s = ranked.select(
        q(lnr).alias("x"),
        q(lnf).alias("y"),
        q(lnr * lnf).alias("xy"),
        q(lnr * lnr).alias("xx"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("xy").alias("sxy"),
        F.sum("xx").alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ["n", "sx", "sy", "sxy", "sxx"])
    slope = (n * sxy - sx.cast("double") / 1_000_000 * sy) / (
        n * sxx - sx.cast("double") / 1_000_000 * sx
    )
    intercept = (sy.cast("double") - slope * sx) / n / 1_000_000
    return s.select(
        n.cast("long").alias("n_tokens"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    )


@query(
    "l67_heaps_law",
    # Heaps'-law fit V = K·N^beta (vocabulary growth vs corpus size):
    # checkpoint the corpus at every 50th doc_id; V(n) = tokens whose FIRST
    # occurrence is in a doc <= n, N(n) = running token total — both
    # computed as ONE conditional aggregate against a 10-row broadcast
    # checkpoint list (no global cumulative window, which would be the
    # scale trap), then the l66 micros-exact OLS on (ln N, ln V).
    sql="""
    WITH per_doc AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_toks FROM documents
    ),
    fo AS (
      SELECT t, MIN(doc_id) AS first_doc FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
      ) GROUP BY t
    ),
    cps AS (SELECT unnest(generate_series(49, 499, 50)) AS cp),
    pts AS (
      SELECT cp,
             (SELECT CAST(SUM(n_toks) AS BIGINT) FROM per_doc
              WHERE doc_id <= cp) AS big_n,
             (SELECT COUNT(*) FROM fo WHERE first_doc <= cp) AS v
      FROM cps
    ),
    terms AS (
      SELECT CAST(ROUND(ln(big_n) * 1000000) AS BIGINT) AS x,
             CAST(ROUND(ln(v) * 1000000) AS BIGINT) AS y,
             CAST(ROUND(ln(big_n) * ln(v) * 1000000) AS BIGINT) AS xy,
             CAST(ROUND(ln(big_n) * ln(big_n) * 1000000) AS BIGINT) AS xx
      FROM pts WHERE big_n IS NOT NULL AND v > 0
    ),
    s AS (
      SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(xy) AS BIGINT) AS sxy,
             CAST(SUM(xx) AS BIGINT) AS sxx
      FROM terms
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           ROUND((n * sxy - CAST(sx AS DOUBLE) / 1000000 * sy)
                 / (n * sxx - CAST(sx AS DOUBLE) / 1000000 * sx), 6) AS beta,
           ROUND((CAST(sy AS DOUBLE) - ((n * sxy - CAST(sx AS DOUBLE) / 1000000 * sy)
                 / (n * sxx - CAST(sx AS DOUBLE) / 1000000 * sx)) * sx)
                 / n / 1000000, 6) AS ln_k
    FROM s
    """,
    tier="T3",
    survey="L7,L5,D1,C5,H5",
)
def l67_heaps_law(spark, sf_dir):
    """Heaps'-law vocabulary-growth fit (V = K·N^beta, beta ≈ 0.4-0.6 on
    natural text; near 0 when the corpus is a fixed-vocabulary loop —
    the duplication/diversity telltale l66's Zipf slope can miss).
    Scale shape: first-occurrence table is one hash agg; checkpoints are
    a 10-row broadcast cross join with conditional counts, NOT a global
    cumulative window; the fit reuses l66's exact-integer OLS."""
    docs = T(spark, sf_dir, "documents")
    per_doc = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_toks")
    )
    fo = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .groupBy("t")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    cps = F.broadcast(
        docs.sparkSession.range(49, 500, 50).select(F.col("id").alias("cp"))
    )
    big_n = per_doc.crossJoin(cps).where(F.col("doc_id") <= F.col("cp")).groupBy(
        "cp"
    ).agg(F.sum("n_toks").alias("big_n"))
    v = fo.crossJoin(cps).where(F.col("first_doc") <= F.col("cp")).groupBy(
        "cp"
    ).agg(F.count(F.lit(1)).alias("v"))
    pts = big_n.join(v, "cp").where(
        F.col("big_n").isNotNull() & (F.col("v") > 0)
    )
    q = lambda c: F.round(c * 1_000_000).cast("long")  # noqa: E731
    lnn, lnv = F.log("big_n"), F.log("v")
    s = pts.select(
        q(lnn).alias("x"),
        q(lnv).alias("y"),
        q(lnn * lnv).alias("xy"),
        q(lnn * lnn).alias("xx"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("xy").alias("sxy"),
        F.sum("xx").alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ["n", "sx", "sy", "sxy", "sxx"])
    beta = (n * sxy - sx.cast("double") / 1_000_000 * sy) / (
        n * sxx - sx.cast("double") / 1_000_000 * sx
    )
    ln_k = (sy.cast("double") - beta * sx) / n / 1_000_000
    return s.select(
        n.cast("long").alias("n_points"),
        F.round(beta, 6).alias("beta"),
        F.round(ln_k, 6).alias("ln_k"),
    )


@query(
    "l68_corpus_build",
    # Capstone composition — the end-to-end training-corpus build:
    # exact dedup (keep smallest doc per normalized digest) → lexical
    # quality gate → deterministic 80/10/10 split on the surviving doc id
    # → per-split token budget (md5-ordered running total, first 20k
    # tokens) → per-split report. Every stage is an existing certified
    # operator; the value here is the CHAIN matching end-to-end.
    sql="""
    WITH keep AS (
      SELECT doc_id, source, text FROM (
        SELECT doc_id, source, text,
               row_number() OVER (
                 PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                 ORDER BY doc_id) AS rn
        FROM documents
      ) WHERE rn = 1
    ),
    q AS (
      SELECT doc_id, source,
             len(string_split(text, ' ')) AS n_tok,
             len(list_distinct(string_split(text, ' '))) * 1.0
               / len(string_split(text, ' ')) AS ldiv
      FROM keep
    ),
    gated AS (SELECT * FROM q WHERE n_tok >= 10 AND ldiv >= 0.3),
    s AS (
      SELECT *,
             CASE WHEN (ascii(substr(md5(CAST(doc_id AS VARCHAR)),1,1)) * 256
                        + ascii(substr(md5(CAST(doc_id AS VARCHAR)),2,1))) % 100 < 80
                    THEN 'train'
                  WHEN (ascii(substr(md5(CAST(doc_id AS VARCHAR)),1,1)) * 256
                        + ascii(substr(md5(CAST(doc_id AS VARCHAR)),2,1))) % 100 < 90
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM gated
    ),
    b AS (
      SELECT *,
             SUM(n_tok) OVER (PARTITION BY split
                              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM s
    ),
    sel AS (SELECT * FROM b WHERE cum <= 20000)
    SELECT split, COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           COUNT(DISTINCT source) AS n_sources
    FROM sel GROUP BY split
    """,
    tier="T3",
    survey="L1,L7,L-ext,B8,E3,D1",
)
def l68_corpus_build(spark, sf_dir):
    """End-to-end training-corpus build, composed ENTIRELY from the
    library's certified operators: dedup.exact_dedup (digest-first, text
    never shuffles) → lexical-diversity quality gate → leakage-stable
    deterministic_split → per-split md5-ordered token budget (the l35
    shard-budget idiom) → per-split report. One corpus scan feeds the
    digest window; everything after runs on the deduped survivor set.
    Oracle replays the full chain, so any stage drifting breaks the
    hash — the composition contract, not just each stage alone."""
    from oeem_etl_spark.operators import dedup as ddp
    from oeem_etl_spark.operators.splits import deterministic_split
    from pyspark.sql import Window

    docs = T(spark, sf_dir, "documents")
    keep = ddp.exact_dedup(docs, "text", "doc_id")
    toks = F.split("text", " ")
    q = keep.select(
        "doc_id",
        "source",
        F.size(toks).alias("n_tok"),
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("ldiv"),
    )
    gated = q.where((F.col("n_tok") >= 10) & (F.col("ldiv") >= 0.3))
    s = deterministic_split(gated, "doc_id")
    w = (
        Window.partitionBy("split")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sel = s.withColumn("cum", F.sum("n_tok").over(w)).where(F.col("cum") <= 20000)
    return sel.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.count_distinct("source").alias("n_sources"),
    )


# ---------------------------------------------------------------------------
# Inverted-index search (operators/search.py): positional postings, AND
# retrieval, phrase match. The oracle recomputes the same anchor-vote
# relational plan declaratively.
# ---------------------------------------------------------------------------


@query(
    "l70_phrase_search",
    sql="""
    WITH p AS (
      SELECT doc_id, w AS term,
             CAST(pos - 1 AS BIGINT) AS pos
      FROM (
        SELECT doc_id,
               unnest(string_split(lower(text), ' ')) AS w,
               unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
        FROM documents
      )
    ),
    slots AS (
      SELECT * FROM (VALUES ('table', 0), ('hash', 1), ('join', 2))
        AS t(term, slot)
    ),
    votes AS (
      SELECT p.doc_id, p.pos - s.slot AS anchor, s.slot
      FROM p JOIN slots s USING (term)
    ),
    hits AS (
      SELECT doc_id, anchor
      FROM votes GROUP BY doc_id, anchor
      HAVING COUNT(DISTINCT slot) = 3
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches
    FROM hits GROUP BY doc_id ORDER BY doc_id
    """,
    tier="T3",
    survey="L12,L5,L-ext,H9,C9,D10",
)
def l70_phrase_search(spark, sf_dir):
    """Positional phrase search ("table hash join") over the corpus via
    the anchor-vote plan (operators/search.py): postings scan filtered to
    the 3 phrase terms (pushed-down IN-list), broadcast join against the
    3-row slot table, one shuffle on (doc, anchor = pos - slot), and an
    all-slots-present HAVING. Linear in matched postings — no positional
    self-join. Returns each matching doc with its phrase-occurrence
    count; oracle replays the identical algebra."""
    from oeem_etl_spark.operators import search

    docs = T(spark, sf_dir, "documents")
    postings = search.build_postings(docs)
    return search.phrase_search(postings, ["table", "hash", "join"]).orderBy(
        "doc_id"
    )


@query(
    "l71_conjunctive_search",
    sql="""
    WITH p AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM p WHERE term IN ('spark', 'window', 'merge')
    GROUP BY doc_id HAVING COUNT(DISTINCT term) = 3
    ORDER BY doc_id
    """,
    tier="T3",
    survey="L12,L5,H9,D2,D10",
)
def l71_conjunctive_search(spark, sf_dir):
    """Conjunctive (AND) retrieval: docs containing ALL of {spark,
    window, merge}, with total matched-posting counts. The IN-list
    reaches the scan, membership is one hash aggregate with a distinct
    count — the boolean-retrieval primitive at its scale-correct shape
    (no joins, no intersect of per-term doc lists)."""
    from oeem_etl_spark.operators import search

    docs = T(spark, sf_dir, "documents")
    postings = search.build_postings(docs)
    return search.conjunctive_search(
        postings, ["spark", "window", "merge"]
    ).orderBy("doc_id")


@query(
    "l72_char_entropy",
    sql="""
    WITH c AS (
      SELECT doc_id, regexp_extract_all(text, '.') AS cs,
             len(regexp_extract_all(text, '.')) AS n
      FROM documents
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_chars,
           CAST(len(list_distinct(cs)) AS BIGINT) AS n_distinct,
           CASE WHEN n > 0 THEN ROUND(
             list_sum(list_transform(list_distinct(cs), ch ->
               -len(list_filter(cs, x -> x = ch)) *
               CAST(ROUND(ln(len(list_filter(cs, x -> x = ch))
                             / CAST(n AS DOUBLE)) * 1000000) AS BIGINT)))
             / n / 1000000.0, 6)
           ELSE 0.0 END AS char_entropy
    FROM c
    """,
    tier="T3",
    survey="L7,H5,H8",
)
def l72_char_entropy(spark, sf_dir):
    """Character-level Shannon entropy per document (nats) — the cheap
    gibberish / encoding-damage quality gate. Row-local lambda algebra
    only (operators/text.char_entropy): no explode, no shuffle; ln values
    micros-quantized so both engines sum exact integers."""
    from oeem_etl_spark.operators.text import char_entropy

    docs = T(spark, sf_dir, "documents")
    return char_entropy(docs, "doc_id", "text")
