"""Corpus-curation operators for large-scale training-data pipelines.

These extend the SURVEY.md §2.L inventory with the remaining curation steps
a 100 TB pretraining pipeline runs between raw ingest and tokenized shards:

- :func:`contaminated_doc_ids` / :func:`decontaminate` — benchmark
  decontamination: drop corpus documents sharing any token n-gram with an
  evaluation set (the n-gram-overlap rule used by public LLM data reports).
- :func:`pack_sequences` — concat-then-chunk sequence packing: documents are
  concatenated in a deterministic order and chunked into fixed token
  budgets; each document is assigned the pack where it starts. Pure window
  arithmetic — no state, no UDF.
- :func:`stratified_mixture_sample` — deterministic domain-mixture
  downsampling to target source proportions (largest achievable corpus at
  the exact mixture), selecting per-source prefixes of an md5-keyed order
  so the sample is stable across runs/engines/parallelism.
- :func:`repetition_stats` — Gopher-style repetition signals (duplicate
  bigram fraction, top-token fraction) for quality filtering.

Scale notes: decontamination's n-gram explode multiplies rows by ~tokens
per doc; the eval side is tiny by construction (benchmarks are ~1e3..1e5
rows vs 1e9+ corpus docs) so the semi join broadcasts the eval grams and
the corpus side never shuffles. Packing and mixture sampling each use one
window over (partition key) — at cluster scale partition by shard/source so
no single window partition exceeds an executor.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from oeem_etl_spark.catalog import local_frame
from oeem_etl_spark.functions.fixedpoint import qlong

from oeem_etl_spark.operators.text import ngrams_from_tokens, tokenize


def _exploded_grams(df: DataFrame, cols: list[str], text_col: str, n: int) -> DataFrame:
    """(cols..., gram) — one row per token n-gram. Tokens are materialized
    as a real column BEFORE the n-gram transform: a transform lambda that
    references an unevaluated split() re-runs the split per element
    (O(tokens²) per doc — measured 5× on the fixture corpus)."""
    toks = df.select(*[F.col(c) for c in cols], tokenize(text_col).alias("__toks"))
    return toks.select(
        *[F.col(c) for c in cols],
        F.explode(ngrams_from_tokens(F.col("__toks"), n)).alias("gram"),
    )


def eval_ngrams(eval_df: DataFrame, text_col: str, n: int) -> DataFrame:
    """Distinct n-grams of the evaluation set: (gram) — the ban list."""
    return _exploded_grams(eval_df, [], text_col, n).distinct()


def contaminated_doc_ids(
    corpus: DataFrame,
    eval_df: DataFrame,
    key: str,
    text_col: str,
    n: int = 5,
    hash_grams: bool = False,
) -> DataFrame:
    """Corpus keys sharing ≥1 token n-gram with the eval set.

    The eval gram list is broadcast (benchmarks are small); the corpus
    explode is map-side only — the semi join adds no shuffle of the corpus.

    ``hash_grams=True`` compares xxhash64(gram) longs instead of gram
    strings — the at-scale choice (8-byte keys in the broadcast + semi
    join instead of ~n·word-length strings) at the cost of a ~2^-64
    per-pair false-positive chance. Default False keeps the operator
    string-exact for the oracle contract.
    """
    grams = _exploded_grams(corpus, [key], text_col, n)
    evg = eval_ngrams(eval_df, text_col, n)
    if hash_grams:
        grams = grams.select(F.col(key), F.xxhash64("gram").alias("gram"))
        evg = evg.select(F.xxhash64("gram").alias("gram")).distinct()
    hits = grams.join(F.broadcast(evg), "gram", "left_semi")
    return hits.select(key).distinct()


def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    key: str,
    text_col: str,
    n: int = 5,
    hash_grams: bool = False,
) -> DataFrame:
    """Corpus minus contaminated documents (n-gram-overlap rule)."""
    bad = contaminated_doc_ids(corpus, eval_df, key, text_col, n, hash_grams)
    return corpus.join(bad, [key], "left_anti")


def pack_sequences(
    df: DataFrame,
    key: str,
    n_tokens: Column | str,
    budget: int,
    partition_by: str | None = None,
) -> DataFrame:
    """Concat-then-chunk packing: deterministic key order, running token
    offsets, pack id = start_offset // budget.

    Adds ``start_offset`` (tokens before this doc in its partition's
    concatenation) and ``pack_id``. With ``partition_by`` (shard/source),
    packs are numbered per partition and the window never spans executors'
    memory at scale; a global pack id is ``(partition, pack_id)``.
    """
    # null token counts contribute 0 to offsets (F.sum skips nulls);
    # upstream quality gates should have dropped un-tokenizable docs
    tok = F.col(n_tokens) if isinstance(n_tokens, str) else n_tokens
    part = [partition_by] if partition_by else []
    w = (
        Window.partitionBy(*part)
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum(tok).over(w), F.lit(0))
    return df.withColumn("start_offset", start.cast("long")).withColumn(
        "pack_id", F.floor(F.col("start_offset") / budget).cast("long")
    )


def stratified_mixture_sample(
    df: DataFrame,
    key: str,
    stratum_col: str,
    weights: dict[str, float],
) -> DataFrame:
    """Largest deterministic subsample with exact stratum proportions.

    scale = min over strata of n_s / w_s; stratum quota = floor(scale·w_s);
    each stratum keeps its quota-prefix in (md5(key), key) order. Counting
    and quota math ride one tiny aggregate (broadcast back); the per-row
    work is a window rank within stratum — one shuffle on the stratum key.
    Strata absent from ``weights`` are dropped. A stratum named in
    ``weights`` but EMPTY in the data is dropped too (scale is the min
    over strata actually present) — callers requiring every stratum should
    validate counts first; an exact mixture with a missing stratum would
    otherwise force an empty sample.
    """
    w_df = local_frame(
        df.sparkSession,
        [(s, float(w)) for s, w in sorted(weights.items())],
        f"{stratum_col} STRING, __wt DOUBLE",
    )
    counts = (
        df.join(F.broadcast(w_df), stratum_col)
        .groupBy(stratum_col, "__wt")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    scale = counts.agg(F.min(F.col("__n") / F.col("__wt")).alias("__scale"))
    quota = counts.crossJoin(F.broadcast(scale)).select(
        stratum_col,
        F.floor(F.col("__scale") * F.col("__wt")).cast("long").alias("__quota"),
    )
    rank_w = Window.partitionBy(stratum_col).orderBy(
        F.md5(F.col(key).cast("string")), F.col(key)
    )
    ranked = df.withColumn("__rn", F.row_number().over(rank_w))
    return (
        ranked.join(F.broadcast(quota), stratum_col)
        .where(F.col("__rn") <= F.col("__quota"))
        .drop("__rn", "__quota")
    )


def repetition_stats(df: DataFrame, key: str, text_col: str) -> DataFrame:
    """Gopher-style repetition signals per document:

    - ``dup_bigram_frac``: 1 − distinct bigrams / bigrams (0 when <2 tokens)
    - ``top_token_frac``: occurrences of the most frequent token / tokens
      (ties by token text don't matter — only the max count is used)

    All array-expression work (no UDF, no shuffle beyond the projection).
    """
    t = df.select(F.col(key), tokenize(text_col).alias("__toks"))
    bigrams = ngrams_from_tokens(F.col("__toks"), 2)
    n_tok = F.size("__toks")
    n_bi = F.size(bigrams)
    dup_frac = F.when(
        n_bi > 0,
        F.round(1.0 - F.size(F.array_distinct(bigrams)) / n_bi, 6),
    ).otherwise(F.lit(0.0))
    # max token count = longest equal-run in the SORTED token array — one
    # O(n log n) native sort + O(n) fold, replacing the former
    # transform(distinct, tok -> size(filter(toks, == tok))) which was
    # O(distinct·tokens) interpreted work per document (quadratic on a
    # hostile all-distinct document). Value-identical: max run length over
    # a sorted array IS the max multiplicity (checked equal on the full
    # sf0.1 corpus; interleaved noop A/B min 0.54 -> 0.30 s). The fold
    # state is (prev token, current run, best run); eqNullSafe only
    # matters for the first element's NULL prev.
    run = lambda acc, x: (  # noqa: E731
        F.when(acc["p"].eqNullSafe(x), acc["r"] + 1).otherwise(F.lit(1).cast("long"))
    )
    top_cnt = F.aggregate(
        F.array_sort(F.col("__toks")),
        F.struct(
            F.lit(None).cast("string").alias("p"),
            F.lit(0).cast("long").alias("r"),
            F.lit(0).cast("long").alias("b"),
        ),
        lambda acc, x: F.struct(
            x.alias("p"),
            run(acc, x).alias("r"),
            F.greatest(acc["b"], run(acc, x)).alias("b"),
        ),
        lambda acc: acc["b"],
    )
    return t.select(
        F.col(key),
        n_tok.alias("n_tokens"),
        dup_frac.alias("dup_bigram_frac"),
        F.round(top_cnt / n_tok, 6).alias("top_token_frac"),
    )


def pack_sequences_no_straddle(
    df: DataFrame,
    key: str,
    n_tokens: str,
    budget: int,
    partition_by: str,
) -> DataFrame:
    """Bin packing WITHOUT document straddling: first-fit-decreasing within
    each ``partition_by`` shard — documents larger than ``budget`` get a
    pack of their own (flagged ``oversize``).

    Unlike :func:`pack_sequences` (concat-then-chunk, pure window math),
    no-straddle packing is inherently sequential per shard, so this is the
    grouped-map (applyInPandas) surface used for real work: each shard's
    rows arrive as one pandas frame, FFD runs in-memory, Arrow carries the
    batches. Shards are the parallelism unit — size them so a shard's doc
    METADATA (key + token count, not text) fits an executor; at 100 TB
    that's millions of docs per shard, far beyond what FFD needs.
    Deterministic: FFD processes (tokens desc, key asc).
    """
    import pandas as pd

    out_schema = (
        f"{partition_by} string, {key} long, {n_tokens} long, "
        "pack_id long, oversize boolean"
    )

    def ffd(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([n_tokens, key], ascending=[False, True])
        bins: list[int] = []  # remaining capacity per pack
        pack_ids = []
        oversize = []
        for tok in pdf[n_tokens]:
            tok = int(tok)
            if tok >= budget:
                bins.append(0)
                pack_ids.append(len(bins) - 1)
                oversize.append(True)
                continue
            for i, rem in enumerate(bins):
                if rem >= tok:
                    bins[i] = rem - tok
                    pack_ids.append(i)
                    break
            else:
                bins.append(budget - tok)
                pack_ids.append(len(bins) - 1)
            oversize.append(False)
        pdf = pdf.copy()
        pdf["pack_id"] = pack_ids
        pdf["oversize"] = oversize
        return pdf[[partition_by, key, n_tokens, "pack_id", "oversize"]]

    src = df.select(
        F.col(partition_by).cast("string").alias(partition_by),
        F.col(key).cast("long").alias(key),
        F.col(n_tokens).cast("long").alias(n_tokens),
    )
    return src.groupBy(partition_by).applyInPandas(ffd, out_schema)


def chunk_documents(
    df: DataFrame,
    key: str,
    text_col: str,
    chunk_tokens: int = 128,
    stride: int = 64,
) -> DataFrame:
    """Split documents into overlapping token windows (RAG / pretraining
    chunking): chunk i covers tokens [i·stride, i·stride + chunk_tokens),
    last chunk may be short, documents shorter than one chunk yield one
    chunk. Output: (key, chunk_id, chunk_text, n_chunk_tokens).

    Pure array expressions — tokens materialized once per doc (the
    split-in-lambda trap), starts generated with sequence(), windows cut
    with slice(); one generator, no shuffle. Chunk count per doc is
    ceil(max(n - chunk_tokens, 0) / stride) + 1.
    """
    toks = df.select(F.col(key), tokenize(text_col).alias("__toks"))
    n = F.size("__toks")
    n_chunks = (
        F.ceil(F.greatest(n - chunk_tokens, F.lit(0)) / F.lit(stride)).cast("int") + 1
    )
    starts = F.sequence(F.lit(0), n_chunks - 1)
    chunks = toks.select(
        F.col(key),
        F.posexplode(
            F.transform(
                starts,
                lambda i: F.slice(F.col("__toks"), i * stride + 1, chunk_tokens),
            )
        ).alias("chunk_id", "__chunk"),
    )
    return chunks.select(
        F.col(key),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.concat_ws(" ", F.col("__chunk")).alias("chunk_text"),
        F.size("__chunk").cast("long").alias("n_chunk_tokens"),
    )


def duplicated_window_stats(
    df: DataFrame,
    key: str,
    text_col: str,
    n: int = 5,
    hashed: bool = True,
) -> DataFrame:
    """Span-level duplication signal (the Lee et al. 2021 "Deduplicating
    Training Data" substring statistic, at token-window granularity):
    for each document, how many of its n-token windows occur more than
    once in the whole corpus. Output: (key, n_windows, n_dup, dup_frac).

    ``hashed=True`` (the scale path) replaces each window string with its
    xxhash64 before the corpus-wide count, so the shuffle carries 8-byte
    keys instead of window text — counts are identical to the string
    grouping unless xxhash64 collides (~2⁻⁶⁴ per pair; the same standing
    assumption the MinHash/LSH tier documents). Documents shorter than
    ``n`` tokens are excluded (they have no windows).

    Scale shape: window explode is a map-side generator; the occurrence
    count is one map-combinable groupBy on the hashed window; the join
    back to per-doc rows is equi-keyed on that hash. No all-pairs stage
    exists at any point — cost is O(total windows), not O(docs²).
    """
    toks = tokenize(text_col)
    windows = F.transform(
        F.sequence(F.lit(1), F.size("__toks") - (n - 1)),
        lambda i: F.array_join(F.slice(F.col("__toks"), i, n), " "),
    )
    e = (
        df.select(F.col(key), toks.alias("__toks"))
        .where(F.size("__toks") >= n)
        .select(F.col(key), F.explode(windows).alias("__w"))
    )
    if hashed:
        e = e.select(F.col(key), F.xxhash64("__w").alias("__w"))
    counts = e.groupBy("__w").agg(F.count(F.lit(1)).alias("__cnt"))
    return (
        e.join(counts, "__w")
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.count(F.when(F.col("__cnt") > 1, F.lit(1))).alias("n_dup"),
        )
        .withColumn("dup_frac", F.round(F.col("n_dup") / F.col("n_windows"), 6))
    )


def contamination_score(
    corpus: DataFrame,
    eval_df: DataFrame,
    key: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Per-document contamination REPORT (the scored companion to the
    binary :func:`decontaminate` rule, as published LLM data reports
    tabulate it): for each corpus document, how many of its token n-gram
    occurrences appear anywhere in the evaluation set.

    Output: (key, n_grams, n_hit, hit_frac) — ``hit_frac`` is the
    occurrence-weighted overlap fraction, rounded to 6dp; documents with
    fewer than ``n`` tokens have no grams and report (0, 0, 0.0).

    Scale shape: identical to :func:`contaminated_doc_ids` — the eval
    gram list is broadcast, the corpus explode is a map-side generator,
    and the only shuffle is the final map-combinable count per ``key``.
    Use this when a threshold policy ("drop above 20% overlap") is wanted
    instead of the drop-on-any-hit rule.
    """
    toks = corpus.select(F.col(key), tokenize(text_col).alias("__toks"))
    grams = toks.select(
        F.col(key),
        F.explode_outer(ngrams_from_tokens(F.col("__toks"), n)).alias("gram"),
    )
    evg = eval_ngrams(eval_df, text_col, n).withColumn("__hit", F.lit(1))
    flagged = grams.join(F.broadcast(evg), "gram", "left")
    return (
        flagged.groupBy(key)
        .agg(
            F.count("gram").alias("n_grams"),
            F.count("__hit").alias("n_hit"),
        )
        .withColumn(
            "hit_frac",
            F.when(F.col("n_grams") > 0, F.round(F.col("n_hit") / F.col("n_grams"), 6))
            .otherwise(F.lit(0.0)),
        )
    )


def quality_quantile_gate(
    df: DataFrame,
    key: str,
    text_col: str,
    group_col: str,
    q: float = 0.25,
) -> DataFrame:
    """Data-driven quality gate: keep documents whose token count is at or
    above their group's ``q``-th exact interpolated percentile — the
    per-language/per-source adaptive threshold used when a fixed
    ``min_tokens`` constant would over-prune low-resource strata.

    Output: input rows (key, group, n_tokens) that survive the gate.

    Determinism note: thresholds interpolate between integer token counts
    with quarter-grid quantiles (q a multiple of 0.25 keeps every product
    exact in doubles), so the >= comparison is engine-independent.

    Scale shape: the threshold frame is one map-combinable aggregate with
    ``n_groups`` rows, broadcast back onto the corpus — the corpus itself
    is filtered in place with NO shuffle (grouped percentile runs on the
    tiny projected (group, n_tokens) frame, not the text bytes).
    """
    base = df.select(
        F.col(key), F.col(group_col), F.size(tokenize(text_col)).alias("n_tokens")
    )
    thresholds = base.groupBy(group_col).agg(
        F.percentile("n_tokens", q).alias("__thr")
    )
    return (
        base.join(F.broadcast(thresholds), group_col)
        .where(F.col("n_tokens") >= F.col("__thr"))
        .select(key, group_col, "n_tokens")
    )


def token_budget_select(
    df: DataFrame,
    key: str,
    n_tokens: Column | str,
    budget: int,
    partition_by: str | None = None,
) -> DataFrame:
    """Deterministic token-budget corpus selection: within each partition
    (source/shard), documents are taken in shuffled-but-stable
    (md5(key), key) order until the running token total would exceed
    ``budget`` — the "give me exactly ~N tokens per domain" primitive for
    assembling a fixed-size training mix.

    Prefix rule: a document survives iff its INCLUSIVE running total is
    ≤ budget; later smaller documents are NOT backfilled (that knapsack
    variant is :func:`pack_sequences_no_straddle`'s FFD policy — here
    determinism and single-pass windowing win at scale).

    Output: (key, partition, n_tokens, cum_tokens) for survivors.

    Scale shape: one window over the partition key on a 3-column
    projection (the text never moves); the md5 order de-correlates the
    selection from ingest order so the prefix is an unbiased sample.
    """
    tok = F.col(n_tokens) if isinstance(n_tokens, str) else n_tokens
    part = [partition_by] if partition_by else []
    order = [F.md5(F.col(key).cast("string")), F.col(key)]
    w = (
        Window.partitionBy(*part)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out_cols = [F.col(key)] + ([F.col(partition_by)] if partition_by else [])
    return (
        df.select(*out_cols, tok.cast("long").alias("n_tokens"))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("long"))
        .where(F.col("cum_tokens") <= budget)
    )


def importance_weights(
    df: DataFrame,
    key: str,
    text_col: str,
    is_target: Column,
    persist_tokens: bool = True,
) -> DataFrame:
    """DSIR-style importance scoring (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every document
    by how much its unigrams look like a small TARGET slice of the corpus
    versus the corpus as a whole, so raw data matching the target
    distribution can be up-sampled.

    Per token ``t``: ``w(t) = ln p_target(t) - ln p_raw(t)`` with add-1
    smoothing over the raw vocabulary; per document: the mean of ``w``
    over its tokens, quantized to integer micros per token before the sum
    (order-independent across engines/parallelism — the l24/dsum
    discipline).

    Scale shape: two grouped token counts (map-side combined, one row per
    distinct token — vocabulary-bounded, not corpus-bounded), one
    broadcastable 3-number totals frame, and one join of the exploded
    token stream against the vocabulary frequencies. The document text
    itself never shuffles; at 100 TB the vocabulary join is the only
    exchange and it moves O(tokens) narrow rows.

    ``persist_tokens`` (default True) caches the exploded token stream:
    it feeds both the frequency aggregation and the scoring join probe
    side, and without the cache the scan+split+explode of every
    document runs twice (the same multi-branch-recompute fix as
    prefix_filter_jaccard_join's persist_postings). The cached stream
    stays in the session's cache manager until ``unpersist()`` or
    ``clearCache()``, and a later build of the same plan reads it.
    """
    from pyspark import StorageLevel

    toks = df.select(
        F.col(key), is_target.alias("__tgt"), F.explode(tokenize(text_col)).alias("__t")
    )
    if persist_tokens:
        toks = toks.persist(StorageLevel.MEMORY_AND_DISK)
    freq = toks.groupBy("__t").agg(
        F.count(F.lit(1)).alias("__tf_raw"),
        F.sum(F.col("__tgt").cast("long")).alias("__tf_tgt"),
    )
    totals = freq.agg(
        F.sum("__tf_raw").alias("__n_raw"),
        F.sum("__tf_tgt").alias("__n_tgt"),
        F.count(F.lit(1)).alias("__v"),
    )
    w = F.log(
        (F.col("__tf_tgt") + F.lit(1.0)) / (F.col("__n_tgt") + F.col("__v"))
    ) - F.log((F.col("__tf_raw") + F.lit(1.0)) / (F.col("__n_raw") + F.col("__v")))
    scored = (
        toks.join(freq, "__t")
        .crossJoin(F.broadcast(totals))
        .select(F.col(key), qlong(w, 1_000_000).alias("__w"))
    )
    return scored.groupBy(key).agg(
        F.round(F.sum("__w") / F.count("__w") / F.lit(1_000_000.0), 6).alias(
            "importance"
        ),
        F.count("__w").cast("long").alias("n_tokens"),
    )


def unigram_drift(
    df: DataFrame,
    text_col: str,
    is_reference: Column,
    top_k: int = 15,
    persist_tokens: bool = True,
) -> DataFrame:
    """Distribution-drift detection between two corpus slices: per-token
    contribution to KL(incoming ‖ reference) over add-1-smoothed unigram
    distributions — the monitoring primitive that catches a crawl batch
    whose language/domain mix shifted before it trains anything.

    Per shared-vocabulary token: ``contrib = p_inc · ln(p_inc / p_ref)``
    (positive where the incoming slice over-represents the token),
    quantized to integer NANOS (contributions are tiny) with ONE fixed
    association so both engines derive identical longs; output is the
    ``top_k`` drift tokens, fully tie-broken.

    Scale shape: one token-level grouped count (vocabulary-bounded
    shuffle), one broadcast 3-number totals frame, one global top-k
    (TakeOrderedAndProject). The token stream is cached across its two
    consumers (same discipline as :func:`importance_weights`).
    """
    from pyspark import StorageLevel

    toks = df.select(
        is_reference.alias("__ref"), F.explode(tokenize(text_col)).alias("__t")
    )
    if persist_tokens:
        toks = toks.persist(StorageLevel.MEMORY_AND_DISK)
    freq = toks.groupBy("__t").agg(
        F.sum(F.col("__ref").cast("long")).alias("__tf_ref"),
        F.sum((~F.col("__ref")).cast("long")).alias("__tf_inc"),
    )
    totals = freq.agg(
        F.sum("__tf_ref").alias("__n_ref"),
        F.sum("__tf_inc").alias("__n_inc"),
        F.count(F.lit(1)).alias("__v"),
    )
    p_inc = (F.col("__tf_inc") + F.lit(1.0)) / (F.col("__n_inc") + F.col("__v"))
    p_ref = (F.col("__tf_ref") + F.lit(1.0)) / (F.col("__n_ref") + F.col("__v"))
    contrib = qlong(p_inc * F.log(p_inc / p_ref), 1_000_000_000)
    return (
        freq.crossJoin(F.broadcast(totals))
        .select(
            F.col("__t").alias("token"),
            F.col("__tf_ref").alias("tf_ref"),
            F.col("__tf_inc").alias("tf_inc"),
            contrib.alias("kl_nanos"),
        )
        .orderBy(F.col("kl_nanos").desc(), F.col("token").asc())
        .limit(top_k)
    )
