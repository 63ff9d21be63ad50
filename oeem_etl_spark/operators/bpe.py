"""Byte-pair-encoding tokenizer training on Spark (SURVEY.md §2 L5/L-ext).

Classic word-level BPE (Sennrich, Haddow & Birch 2016, arXiv:1508.07909 —
public method): collapse the corpus to a (word, freq) table once, then
repeatedly (1) count adjacent symbol pairs weighted by word frequency,
(2) merge the most frequent pair greedily left-to-right in every word.
Tie-breaks are total (count desc, then left/right symbol ascending), so
training is deterministic and — because pair counts are exact integer
sums — oracle-checkable by unrolling the merge rounds into SQL CTEs
(plans/corpus_queries.py does exactly that).

Scale design (100 TB): the ONE corpus-sized job is the word-frequency
aggregation — a map-side-combinable hash agg on the word itself; the text
never shuffles. Every merge round afterwards runs over the distinct-word
table (bounded further by ``top_words``), whose size is vocabulary-, not
corpus-, shaped. Per round: one job (pair-count agg + top-1 collect of a
single driver-held row) plus a map-only greedy-merge rewrite; lineage is
truncated with localCheckpoint per round, the connected-components
pattern from operators/dedup.py. Applying a trained tokenizer to new text
(:func:`token_counts`) is a broadcast join against the final word→symbols
table — no per-document Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from oeem_etl_spark.catalog import local_frame

END_MARK = "</w>"  # end-of-word symbol, per the original formulation

# Pre-tokenization shared with the DuckDB oracle: lowercase, keep [a-z]+
# runs. Spark and DuckDB regex engines agree on this class, and the
# fixture text is ascii words, so the split is engine-identical.
WORD_RE = "[a-z]+"


def word_freq(
    docs: DataFrame,
    text_col: str = "text",
    top_words: int | None = None,
    max_word_len: int | None = None,
) -> DataFrame:
    """Corpus -> (word, freq) — the single corpus-sized pass.

    ``top_words`` bounds the training vocabulary (freq desc, word asc —
    total order) the way production BPE trainers do; top-k is a
    TakeOrdered, not a global sort.

    ``max_word_len`` drops longer words before training — the standard
    production guard (cf. WordPiece's max_input_chars_per_word): one
    adversarial megabyte-long "word" in a crawl corpus would otherwise
    ride every merge round as a vocabulary row whose symbol array is
    word-sized, and whose word string is the per-round shuffle/window
    key. The filter is applied pre-aggregation, map-side.
    """
    words = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower(text_col), F.lit(WORD_RE), 0)
        ).alias("word")
    )
    if max_word_len is not None:
        words = words.where(F.length("word") <= max_word_len)
    wf = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    if top_words is not None:
        wf = wf.orderBy(F.desc("freq"), "word").limit(top_words)
    return wf


def initial_symbols(words: DataFrame) -> DataFrame:
    """(word, freq) -> (word, freq, syms): characters plus the end mark."""
    return words.select(
        "word",
        "freq",
        F.concat(
            F.regexp_extract_all("word", F.lit("."), 0), F.array(F.lit(END_MARK))
        ).alias("syms"),
    )


def top_pair(words: DataFrame) -> tuple[str, str, int] | None:
    """Most frequent adjacent symbol pair, weighted by word freq.

    One job; the result is a single driver-held row. Ties break on
    (left asc, right asc) so training is deterministic everywhere.
    """
    # The size >= 2 guard matters on adversarial corpora: a word can fully
    # merge into ONE symbol (e.g. a high-frequency short word after a few
    # rounds), and Spark's sequence(1, 0) counts DOWN to [1, 0], making
    # element_at(syms, 2) throw under ANSI. Found by the hostile-text
    # sweep (plans/hostile_queries.py x3); pinned in
    # tests/test_hostile_text.py. Guarded with a pre-FILTER, not a
    # CASE WHEN around the transform: single-symbol words contribute no
    # pairs either way, and the filter keeps the per-round hot expression
    # (l64_bpe_train's merge rounds) unwrapped.
    pairs = words.where(F.size("syms") >= 2).select(
        "freq",
        F.explode(
            F.expr(
                "transform(sequence(1, size(syms) - 1),"
                " i -> struct(element_at(syms, i) AS l,"
                "             element_at(syms, i + 1) AS r))"
            )
        ).alias("p"),
    ).select("freq", "p.l", "p.r")
    row = (
        pairs.groupBy("l", "r")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.desc("cnt"), "l", "r")
        .limit(1)
        .collect()
    )
    if not row:
        return None
    return (row[0]["l"], row[0]["r"], int(row[0]["cnt"]))


def merge_expr(syms: Column | str, left: str, right: str) -> Column:
    """Greedy left-to-right merge of adjacent (left, right) into one symbol.

    A fold over the symbol array: append each symbol unless the
    accumulator ends with ``left`` and the incoming symbol is ``right``,
    in which case replace the tail with the merged symbol. Because the
    merged symbol is a different string than ``left``, a just-merged
    position can never merge again — exactly the non-overlapping
    left-to-right semantics of the reference algorithm (and of the
    run-parity SQL oracle in plans/corpus_queries.py). Pure JVM lambda,
    map-side only.
    """
    c = F.col(syms) if isinstance(syms, str) else syms
    lft, rgt, merged = F.lit(left), F.lit(right), F.lit(left + right)
    return F.aggregate(
        c,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == lft) & (x == rgt),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _train_rounds_py(
    rows: list[tuple[str, int]], n_merges: int
) -> tuple[list[tuple[int, str, str, int]], list[tuple[str, int, list[str]]]]:
    """Driver-side twin of the per-round (top_pair → merge_expr) loop.

    Exact replica of the distributed semantics, pinned by
    tests/test_bpe.py: pair counts are per adjacent POSITION weighted by
    word freq; the winner maximizes (count, then left asc, right asc —
    symbols are [a-z]/``</w>`` ASCII, where Python's code-point order
    equals Spark's UTF8 binary order); the merge is greedy left-to-right
    non-overlapping (a just-merged symbol never re-merges, exactly the
    merge_expr fold). Stops when no word has ≥2 symbols left.
    """
    words = [(w, f, list(w) + [END_MARK]) for w, f in rows]
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for _, f, syms in words:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        (lft, rgt), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if cnt < 1:
            break
        merges.append((step, lft, rgt, cnt))
        for idx, (w, f, syms) in enumerate(words):
            out: list[str] = []
            for s in syms:
                if out and out[-1] == lft and s == rgt:
                    out[-1] = lft + rgt
                else:
                    out.append(s)
            words[idx] = (w, f, out)
    return merges, words


def bpe_train(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    top_words: int | None = None,
    max_word_len: int | None = None,
    driver_rounds: bool | None = None,
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Train ``n_merges`` BPE merges; return (merge table, final word df).

    Merge table rows are (step, left, right, pair_count) — the learned
    tokenizer, ~n_merges rows of driver state (the PQ-codebook posture).
    The returned DataFrame is (word, freq, syms) after all merges
    (small: vocabulary-sized).

    ``driver_rounds`` (default auto = ``top_words is not None``): with a
    bounded vocabulary the merge rounds run DRIVER-SIDE over the
    collected (word, freq) table — r9, guide §1.2/§5: the corpus-sized
    work is still the one word-frequency hash agg in Spark, but the
    per-round top-pair job + map rewrite + localCheckpoint each cost a
    fixed scheduler round-trip on a table of ``top_words`` rows; eight
    rounds of that dominated training wall-clock. The collected state is
    ``top_words`` rows — the same bounded-driver-state posture as the
    merge table itself and the PQ codebooks. An UNBOUNDED vocabulary
    (``top_words=None``) keeps the distributed per-round loop:
    collecting a corpus-shaped vocab would be the guide-§5 driver
    anti-pattern. Both paths are value-identical
    (tests/test_bpe.py pins merges + final symbol tables equal).
    """
    if driver_rounds is None:
        driver_rounds = top_words is not None
    if driver_rounds and top_words is not None:
        wf = word_freq(docs, text_col, top_words, max_word_len)
        rows = [(r["word"], int(r["freq"])) for r in wf.collect()]
        merges, final = _train_rounds_py(rows, n_merges)
        words_df = local_frame(
            docs.sparkSession,
            final, "word string, freq bigint, syms array<string>"
        )
        return merges, words_df
    # The word table is vocabulary-sized; collapse to few partitions before
    # each lineage-truncating checkpoint so n_merges rounds don't litter
    # shuffle-partition-many checkpoint files (fd pressure on local mode,
    # tiny-file pressure on a cluster). 1 partition per ~1M vocab words.
    # repartition, NOT coalesce: coalesce(1) would propagate upstream and
    # run the CORPUS-sized word-freq scan in one task (measured 100× probe
    # regression); the repartition shuffle moves only vocab-sized rows.
    parts = 1 + (top_words or 1_000_000) // 1_000_000
    words = (
        initial_symbols(word_freq(docs, text_col, top_words, max_word_len))
        .repartition(parts)
        .localCheckpoint()
    )
    merges = []
    for step in range(1, n_merges + 1):
        best = top_pair(words)
        if best is None or best[2] < 1:
            break
        lft, rgt, cnt = best
        merges.append((step, lft, rgt, cnt))
        words = words.select(
            "word", "freq", merge_expr("syms", lft, rgt).alias("syms")
        ).localCheckpoint()
    return merges, words


def token_counts(
    docs: DataFrame,
    trained_words: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document token count under a trained tokenizer.

    Broadcast-joins each document's words against the trained
    word→symbols table; out-of-vocabulary words fall back to
    character-level (len + end mark). The corpus side never shuffles.
    """
    doc_words = docs.select(
        F.col(key),
        F.explode(
            F.regexp_extract_all(F.lower(text_col), F.lit(WORD_RE), 0)
        ).alias("word"),
    )
    vocab = F.broadcast(trained_words.select("word", F.size("syms").alias("n_syms")))
    return (
        doc_words.join(vocab, "word", "left")
        .select(
            key,
            F.coalesce("n_syms", F.length("word") + F.lit(1)).alias("n_syms"),
        )
        .groupBy(key)
        .agg(F.sum("n_syms").alias("bpe_tokens"))
    )


def apply_merges(syms: Column | str, merges: list[tuple]) -> Column:
    """Fold a trained merge table (in training order) over a symbol array.

    Each rule is one :func:`merge_expr` pass — greedy left-to-right,
    non-overlapping — so the chain reproduces exactly what training did
    to in-vocabulary words and extends it to unseen ones (the defining
    property of BPE apply). Pure nested JVM lambdas: n_merges stacked
    ``aggregate`` expressions, no Python in the data plane. Merge rows
    must be the documented shapes: 4-tuples (step, left, right, count)
    from :func:`bpe_train`, bare (left, right) pairs, or Rows/dicts with
    ``left``/``right`` fields — any other arity raises rather than
    silently misreading e.g. a (left, right, count) 3-tuple as
    (step, left, right).
    """
    col = F.col(syms) if isinstance(syms, str) else syms
    for row in merges:
        fields = getattr(row, "__fields__", None) or (
            list(row) if isinstance(row, dict) else None
        )
        if fields is not None and "left" in fields and "right" in fields:
            lft, rgt = row["left"], row["right"]
        elif len(row) == 4:
            lft, rgt = row[1], row[2]
        elif len(row) == 2:
            lft, rgt = row
        else:
            raise ValueError(
                "apply_merges rows must be (step, left, right, count) "
                "4-tuples, (left, right) pairs, or Rows/dicts with "
                f"left/right fields; got arity {len(row)}: {row!r}"
            )
        col = merge_expr(col, lft, rgt)
    return col


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple],
    key: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenize text under a trained merge list -> (key, bpe_text,
    n_tokens), where bpe_text is the space-joined token sequence in
    original word order (END_MARK kept, the reversible form).

    Scale shape: the merge chain runs once per DISTINCT word (a
    vocabulary-sized map-only rewrite — the same posture as training's
    merge rounds), then a broadcast join decorates the corpus's
    (doc, position, word) stream and a single hash agg reassembles
    per-document sequences. The corpus text is scanned once and never
    carries symbol arrays through a shuffle; out-of-vocabulary words cost
    the same as vocabulary words (the rules, not a lookup table, define
    the tokenizer).
    """
    doc_words = docs.select(
        F.col(key),
        F.posexplode(
            F.regexp_extract_all(F.lower(text_col), F.lit(WORD_RE), 0)
        ).alias("pos", "word"),
    )
    vocab = doc_words.select("word").distinct()
    vocab = vocab.select(
        "word",
        apply_merges(
            F.concat(
                F.regexp_extract_all("word", F.lit("."), 0),
                F.array(F.lit(END_MARK)),
            ),
            merges,
        ).alias("toks"),
    )
    per_word = doc_words.join(F.broadcast(vocab), "word")
    agg = per_word.groupBy(key).agg(
        F.array_sort(F.collect_list(F.struct("pos", "toks"))).alias("seq")
    )
    return docs.select(key).join(agg, key, "left").select(
        key,
        F.coalesce(
            F.array_join(
                F.flatten(F.expr("transform(seq, s -> s.toks)")), " "
            ),
            F.lit(""),
        ).alias("bpe_text"),
        F.coalesce(
            F.expr(
                "aggregate(seq, 0L, (acc, s) -> acc + size(s.toks))"
            ),
            F.lit(0).cast("long"),
        ).alias("n_tokens"),
    )
