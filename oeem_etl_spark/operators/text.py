"""Text-analysis operators (SURVEY.md §2.L5-L7): tokenize, n-grams, tf-idf,
quality stats, language-ID, fingerprinting. All JVM-side expressions except
nothing — no Python UDFs anywhere in this module.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from oeem_etl_spark.functions.fixedpoint import qlong


def tokenize(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def ngrams_from_tokens(toks: Column, n: int = 2) -> Column:
    """Token n-grams from an ALREADY-MATERIALIZED token array column
    (order-preserving, with repeats). An unevaluated tokenize() expression
    referenced inside the transform lambda re-runs per element — pass a
    real column in hot paths (measured 3× on the fixture corpus)."""
    cnt = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(cnt - n, F.lit(0)))
    # NOTE (r9, measured): replacing the slice()+join with n scalar get()s
    # was a wash at n=5 (interleaved noop A/B: min 0.49 vs 0.39, median
    # 0.59 vs 0.67 — within box noise, mild regression on the l19 chain) —
    # interpreted eval cost is per expression node, so the get form only
    # wins at tiny widths (see dedup.shingles_from_tokens, k=3). Keep the
    # 2-node slice form here where n is caller-chosen.
    return F.when(
        cnt >= n, F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    ).otherwise(F.array())


def ngrams(col: Column | str, n: int = 2) -> Column:
    """Token n-grams as array<string>; see :func:`ngrams_from_tokens` for
    the hot-path form."""
    return ngrams_from_tokens(tokenize(col), n)


def text_stats(df: DataFrame, key: str, text_col: str) -> DataFrame:
    """Per-document quality features: length, token count, avg token
    length, alpha ratio, distinct-token ratio (L7 / quality scoring)."""
    toks = tokenize(text_col)
    n_tok = F.size(toks)
    n_chars = F.length(text_col)
    return df.select(
        F.col(key),
        n_chars.alias("n_chars"),
        n_tok.alias("n_tokens"),
        F.round((n_chars - (n_tok - 1)) / n_tok, 6).alias("avg_token_len"),
        F.round(
            F.length(F.regexp_replace(F.col(text_col), r"[^a-z]", "")) / n_chars, 6
        ).alias("alpha_ratio"),
        F.round(F.size(F.array_distinct(toks)) / n_tok, 6).alias("distinct_ratio"),
    )


def quality_filter(
    df: DataFrame,
    text_col: str,
    min_chars: int = 20,
    min_tokens: int = 5,
    min_distinct_ratio: float = 0.2,
) -> DataFrame:
    """Heuristic quality gate for training corpora."""
    toks = tokenize(text_col)
    return df.where(
        (F.length(text_col) >= min_chars)
        & (F.size(toks) >= min_tokens)
        & (F.size(F.array_distinct(toks)) / F.size(toks) >= min_distinct_ratio)
    )


def term_frequencies(df: DataFrame, key: str, text_col: str) -> DataFrame:
    """(key, term, tf) — exploded token counts per document."""
    return (
        df.select(F.col(key), F.explode(tokenize(text_col)).alias("term"))
        .groupBy(key, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def tf_idf(df: DataFrame, key: str, text_col: str) -> DataFrame:
    """Classic tf-idf over a corpus (L6): tf × ln(N / df).

    The document frequency is a COUNT window over ``term`` on the
    (already per-(key, term)-unique) tf frame — one exchange on term —
    instead of the former separate docfreq aggregate joined back on
    term, which shuffled the tf table twice (agg pass + join pass; the
    rewrite measured 0.62 → 0.33 s at sf0.1, identical rows). Window
    count-over-partition equals count_distinct(key) here because tf
    rows are unique per (key, term) by construction. The document count
    is a scalar subquery (crossJoin of a 1-row frame), not a collect() —
    no driver-side materialization at any scale.
    """
    from pyspark.sql import Window

    tf = term_frequencies(df, key, text_col)
    n_docs = df.agg(F.count(F.lit(1)).alias("__n"))
    w = Window.partitionBy("term")
    return (
        tf.withColumn("df", F.count(F.lit(1)).over(w))
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(key),
            "term",
            "tf",
            "df",
            F.round(F.col("tf") * F.log(F.col("__n") / F.col("df")), 6).alias("tfidf"),
        )
    )


def language_id(
    df: DataFrame,
    key: str,
    text_col: str,
    marker_table: DataFrame,
    default: str = "und",
) -> DataFrame:
    """Heuristic language ID (L-ext): vote by marker-token hits per
    language; most hits wins (ties → lexicographically smallest lang);
    documents with no marker hits get ``default``.

    ``marker_table``: (lang, marker) rows — e.g. function words per
    language. Broadcast side; the explode+join is one shuffle on token.
    """
    toks = df.select(F.col(key), F.explode(tokenize(text_col)).alias("marker"))
    votes = (
        toks.join(F.broadcast(marker_table), "marker")
        .groupBy(key, "lang")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(F.col("hits").desc(), F.col("lang").asc())
    best = (
        votes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(F.col(key), F.col("lang").alias("lang_pred"), "hits")
    )
    return df.select(F.col(key)).join(best, [key], "left").select(
        F.col(key),
        F.coalesce("lang_pred", F.lit(default)).alias("lang_pred"),
        F.coalesce("hits", F.lit(0)).alias("hits"),
    )


def token_count_bpe_ish(col: Column | str) -> Column:
    """Approximate LLM token count: words + punctuation clusters + digit
    runs (a BPE-ish regex heuristic, deliberately engine-portable)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"))


def fingerprint_winnow(
    df: DataFrame, key: str, text_col: str, k: int = 5, window: int = 4,
    hash_fn=None,
) -> DataFrame:
    """Winnowing document fingerprint (L-ext): k-shingle rolling hashes,
    keep the minimum hash in each sliding window, distinct — a compact
    set-signature for plagiarism-style matching. ``hash_fn`` (shingle
    string Column -> int Column) defaults to xxhash64 — fastest JVM-side;
    pass an oracle-expressible family (md5-hex-prefix, plans/llm_queries
    l12) for cross-engine-checkable fingerprints."""
    if hash_fn is None:
        hash_fn = F.xxhash64
    # materialize tokens, then hashes, as real columns — each transform
    # lambda must reference an evaluated array, not the upstream expression
    # (which would re-run per element: O(tokens²) splits)
    t = df.select(F.col(key), tokenize(text_col).alias("__toks"))
    cnt = F.size("__toks")
    idx = F.sequence(F.lit(0), F.greatest(cnt - k, F.lit(0)))
    h = t.select(
        F.col(key),
        F.transform(
            idx,
            lambda i: hash_fn(F.concat_ws(" ", F.slice(F.col("__toks"), i + 1, k))),
        ).alias("__hashes"),
    )
    n_h = F.size("__hashes")
    widx = F.sequence(F.lit(0), F.greatest(n_h - window, F.lit(0)))
    mins = F.transform(
        widx, lambda i: F.array_min(F.slice(F.col("__hashes"), i + 1, window))
    )
    return h.select(F.col(key), F.array_distinct(mins).alias("fingerprint"))


def unigram_logprob_score(df: DataFrame, key: str, text_col: str) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram distribution — the SQL-computable stand-in for LM-perplexity
    quality filtering (low score = tokens rare in the corpus = gibberish
    or off-distribution; high = stereotypical text).

    Two aggregations over the exploded token stream (corpus frequencies,
    then per-doc mean of ln p(token)); the frequency table joins on the
    token with map-side combined counts. Each ln value is quantized to
    integer micros before the per-doc sum, so the mean is exact integer
    arithmetic — order-independent across engines/parallelism (the same
    trick as plans/util.dsum).
    """
    toks = df.select(F.col(key), F.explode(tokenize(text_col)).alias("__t"))
    freq = toks.groupBy("__t").agg(F.count(F.lit(1)).alias("__tf"))
    total = toks.agg(F.count(F.lit(1)).alias("__n"))
    logp_micros = F.round(
        F.log(F.col("__tf") / F.col("__n")) * 1_000_000
    ).cast("long")
    scored = (
        toks.join(freq, "__t")
        .crossJoin(F.broadcast(total))
        .select(F.col(key), logp_micros.alias("__lp"))
    )
    return scored.groupBy(key).agg(
        F.round(F.sum("__lp") / F.count("__lp") / F.lit(1_000_000.0), 6).alias(
            "mean_logprob"
        ),
        F.count("__lp").cast("long").alias("n_tokens"),
    )


def deletion_variants(col: Column | str, max_deletions: int = 1) -> Column:
    """The string itself plus every variant with up to ``max_deletions``
    characters removed, de-duplicated (deleting any char of an equal-char
    run yields the same variant). The SymSpell candidate key: two strings
    within edit distance k always share a member of each other's
    ≤k-deletion neighborhoods. Fan-out is O(len) at 1 and O(len²/2) at 2
    — keep 2 for short tokens (names, words), not documents."""
    if max_deletions not in (1, 2):
        raise ValueError(f"max_deletions must be 1 or 2, not {max_deletions!r}")
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    dels = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat(
            c.substr(F.lit(1), i - F.lit(1)), c.substr(i + F.lit(1), n)
        ),
    )
    variants = F.concat(F.array(c), dels)
    if max_deletions == 2:
        # remove chars at i < j: three splice segments
        dd = F.flatten(
            F.transform(
                F.sequence(F.lit(1), n - F.lit(1)),
                lambda i: F.transform(
                    F.sequence(i + F.lit(1), n),
                    lambda j: F.concat(
                        c.substr(F.lit(1), i - F.lit(1)),
                        c.substr(i + F.lit(1), j - i - F.lit(1)),
                        c.substr(j + F.lit(1), n),
                    ),
                ),
            )
        )
        variants = F.concat(variants, F.when(n >= 2, dd).otherwise(F.array()))
    variants = F.array_distinct(variants)
    # empty string: sequence(1, 0) is DESCENDING in Spark — guard it out
    return F.when(n > 0, variants).otherwise(F.array(c))


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_dist: int = 1,
) -> DataFrame:
    """Edit-distance-≤1 join WITHOUT a cross product (H3 at corpus scale).

    Candidate generation is the SymSpell deletion-neighborhood trick: two
    strings are within edit distance 1 (substitution, insertion, deletion,
    or equality) only if they share a member of
    ``{s} ∪ {s minus one char}`` — so explode both sides' variant sets
    (fan-out ≤ len+1 per row), hash-equi-join on the variant, then verify
    the survivors with one exact ``levenshtein`` call. The join is
    bucketed by variant hash — shuffle carries candidates, never the
    all-pairs square; the exact filter runs on candidates only (same
    generate→bucket→verify shape as the MinHash/LSH dedup pipeline).

    Column names must not collide between the two inputs (alias upstream);
    output has both sides' columns plus ``dist``. Returns distinct
    candidate rows (a pair can share several variants).

    r10 (guide §2.3/§4.1):

    - the candidate equi-join key is ``xxhash64(variant)`` — 8 bytes
      instead of a near-name-length string, so the broadcast/shuffle
      relation and the hash probes shrink. Lossless: a collision can
      only ADD a candidate pair, and any added pair within
      ``max_dist`` is already in the result via its own shared variant
      (the SymSpell guarantee) — the distinct absorbs it; any added
      pair beyond ``max_dist`` is removed by the exact verify.
    - the verify is ``levenshtein(l, r, max_dist)`` — the banded DP
      (O(len·max_dist) cells instead of O(len²)) that returns -1 above
      the threshold; surviving distances are the true distances, so
      ``dist`` is unchanged. An equality short-circuit skips the DP
      entirely for identical strings — the most common match class,
      since every row matches itself through every shared variant and
      pays the full DP before any caller-side id filter can drop it.
    """
    lv = left.withColumn(
        "__vh",
        F.explode(
            F.transform(
                deletion_variants(left_col, max_dist), lambda v: F.xxhash64(v)
            )
        ),
    )
    rv = right.withColumn(
        "__vh",
        F.explode(
            F.transform(
                deletion_variants(right_col, max_dist), lambda v: F.xxhash64(v)
            )
        ),
    )
    cand = lv.join(rv, "__vh").drop("__vh").distinct()
    lc, rc = F.col(left_col), F.col(right_col)
    dist = F.when(lc == rc, F.lit(0)).otherwise(
        F.levenshtein(lc, rc, max_dist)
    )
    # thresholded levenshtein returns -1 above max_dist and the true
    # distance otherwise, so `dist >= 0` alone IS the ≤ max_dist filter —
    # one predicate, one CASE evaluation in the pushed join condition
    return cand.withColumn("dist", dist).where(F.col("dist") >= 0)


def repetition_signals(df: DataFrame, key: str, text_col: str) -> DataFrame:
    """Intra-document repetition signals (the Gopher/MassiveText quality
    rules' repetition family, token-level): per document,

    - ``dup_token_frac`` — fraction of tokens whose token TYPE occurs
      more than once (a high value marks boilerplate/spam);
    - ``top_bigram_frac`` — fraction of all bigrams taken by the single
      most frequent bigram (NULL for sub-2-token docs).

    Both are exact integer-count ratios (long/long → identical IEEE
    division in any engine, rounded 6dp). Shape: two explode→count
    aggregations per signal family, all map-combinable on (doc, term) —
    no windows over the token stream, no UDFs; at corpus scale the
    shuffle carries (doc, term, count), never raw token instances.
    """
    k = F.col(key)
    toks = df.select(k, F.explode(tokenize(text_col)).alias("tok"))
    tc = toks.groupBy(key, "tok").agg(F.count(F.lit(1)).alias("c"))
    dup = tc.groupBy(key).agg(
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))).alias(
            "dup_toks"
        ),
        F.sum("c").alias("n_toks"),
    )
    bg = df.select(k, F.explode(ngrams(text_col, 2)).alias("bigram"))
    bc = bg.groupBy(key, "bigram").agg(F.count(F.lit(1)).alias("c"))
    bstat = bc.groupBy(key).agg(
        F.max("c").alias("max_c"), F.sum("c").alias("n_bg")
    )
    return dup.join(bstat, [key], "left").select(
        key,
        F.round(F.col("dup_toks") / F.col("n_toks"), 6).alias("dup_token_frac"),
        F.round(F.col("max_c") / F.col("n_bg"), 6).alias("top_bigram_frac"),
    )


def bm25_scores(
    df: DataFrame,
    key: str,
    text_col: str,
    query_terms: Sequence[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 ranked retrieval for a fixed set of ``query_terms``
    (L-ext: the ranked-search face of L6's tf-idf): per matching document,

        score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
        idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))

    with ``dl`` the document token length and ``avgdl``/``N``/``df``
    corpus statistics. Returns (key, n_hit_terms, score).

    Determinism: each per-term partial is quantized to integer micro-units
    (``round(x·1e6)`` — the plans/util.py dsum discipline) before the
    per-document sum, so the float summation order across terms can never
    flip a digit; the division/ln sequence is written with one fixed
    association order mirrored verbatim by the SQL oracle.

    Scale shape: the explode is filtered to the query terms BEFORE any
    shuffle (map-side prune — the shuffle carries only (doc, hit-term)
    rows, a tiny fraction of the token stream); df-per-term is a
    |terms|-row frame joined broadcast; N/avgdl is a 1-row broadcast
    cross join; dl rides the original row, no second scan. No UDFs.
    """
    terms = [str(t) for t in query_terms]
    k = F.col(key)
    # NULL text counts as an empty document (dl = 0, still in N/avgdl) —
    # spelled as an explicit isNull branch, NOT bare size(), because
    # legacy non-ANSI sessions make size(NULL) return -1 and would skew
    # avgdl config-dependently (the x5 hostile-stats lesson applied here).
    dl = df.select(
        k,
        F.when(F.col(text_col).isNull(), F.lit(0))
        .otherwise(F.size(tokenize(text_col)))
        .alias("dl"),
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("__n"), F.sum("dl").alias("__sum_dl")
    )
    hits = (
        df.select(k, F.explode(tokenize(text_col)).alias("term"))
        .where(F.col("term").isin(terms))
        .groupBy(key, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    docfreq = hits.groupBy("term").agg(F.count_distinct(key).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    avgdl = F.col("__sum_dl") / F.col("__n")
    partial = (
        idf
        * (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / avgdl))
        )
    )
    scored = (
        hits.join(F.broadcast(docfreq), "term")
        .join(dl, key)
        .crossJoin(F.broadcast(stats))
        .select(
            k,
            qlong(partial, 1e6).alias("__micros"),
        )
    )
    return scored.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_hit_terms"),
        F.round(F.sum("__micros") / F.lit(1e6), 6).alias("score"),
    )


def char_entropy(df: DataFrame, key: str, text_col: str) -> DataFrame:
    """Per-document character-level Shannon entropy (nats) — the cheap
    gibberish/encoding-damage detector: natural language sits near ~3
    nats, base64/hex blobs higher, single-char spam near 0.

    Entirely ROW-LOCAL higher-order lambdas (no explode, no shuffle): per
    row, distinct characters and their counts come from array ops over
    the char array, and each count's ln(c/n) is quantized to integer
    micros before the weighted sum — the l24/dsum idiom — so the result
    is exact integer arithmetic and hash-reproducible across engines.
    O(distinct_chars · len) per row, embarrassingly parallel at 100 TB.
    """
    chars = F.regexp_extract_all(F.col(text_col), F.lit("."), 0)
    out = df.select(
        F.col(key),
        chars.alias("__cs"),
        F.size(chars).alias("n_chars"),
        F.array_size(F.array_distinct(chars)).alias("n_distinct"),
    )
    # per distinct char c: cnt = |filter(cs, == c)|; accumulate
    # -cnt * round(ln(cnt/n) * 1e6) in a long fold
    ent_micros = F.expr(
        "aggregate(array_distinct(__cs), 0L, (acc, c) -> acc - "
        " size(filter(__cs, x -> x = c)) *"
        " CAST(ROUND(ln(size(filter(__cs, x -> x = c)) / CAST(n_chars AS DOUBLE))"
        "            * 1000000) AS LONG))"
    )
    return out.select(
        F.col(key),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.when(F.col("n_chars") > 0, F.round(ent_micros / F.col("n_chars") / 1e6, 6))
        .otherwise(F.lit(0.0))
        .alias("char_entropy"),
    )
