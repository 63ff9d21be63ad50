"""Hostile-text queries: the corpus fixtures are
well-formed space-separated ASCII, but a real 100 TB crawl corpus leads
with empty strings, NUL-adjacent bytes, 4-byte UTF-8, combining marks,
fullwidth forms, and adversarial 100k-char single-token documents. Each
query here drives one of the paths that corpus stresses first — the
xxhash64 byte hash, the shingle→MinHash→LSH dedup pipeline, BPE
training's word extraction, exact-substring dedup's window/rebuild
machinery, and the tokenize/stats layer — over an inline hostile corpus
(A5-style in-memory source) with a full DuckDB value oracle.

Hostile strings never appear raw in a result: outputs are hashes,
lengths, and counts, so the driver's pandas canonicalization never has
to round-trip a NUL byte.

Engine notes proven by these oracles (and pinned in
tests/test_hostile_text.py):
- Spark and DuckDB agree on length/octet_length/split/regexp over NULs,
  4-byte UTF-8, combining marks, and 100k-char tokens (x5).
- plans/xxh64_sql.py reproduces F.xxhash64 on hostile bytes including
  the empty string and embedded NULs (x1).
- The minhash pipeline's [''] singleton-shingle convention extends to
  NULL/empty/whitespace-only docs unchanged (x2).
- BPE word extraction needs — and now has — a max_word_len guard
  (operators/bpe.py word_freq): an unguarded 100k-char word would ride
  every merge round as a vocabulary row whose WORD STRING is the
  per-round shuffle and window key (x3 trains with the guard on; the
  100k doc is in-corpus and harmless).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from oeem_etl_spark.catalog import local_frame
from oeem_etl_spark.operators import bpe, dedup
from oeem_etl_spark.plans import xxh64_sql
from oeem_etl_spark.plans.llm_queries import minhash_oracle_sql
from oeem_etl_spark.plans.registry import query
from oeem_etl_spark.plans.util import T

# ---------------------------------------------------------------------------
# The hostile corpus. One list, shared verbatim by the Spark side
# (createDataFrame) and the oracle side (rendered to a VALUES table by
# _sql_text_lit — control bytes become chr(n) concatenations so the SQL
# text itself stays clean UTF-8 with no embedded NULs).
# ---------------------------------------------------------------------------

_GLOBE = "\U0001f30d"  # 4-byte UTF-8 code point

HOSTILE_DOCS: list[tuple[int, str | None]] = [
    (1, ""),  # empty string
    (2, " "),  # single space -> ['', ''] token split
    (3, "   "),  # whitespace-only
    (4, "\x00"),  # bare NUL byte
    (5, "a\x00b nul\x00mid token"),  # NUL-adjacent bytes inside tokens
    (6, f"{_GLOBE * 3} {_GLOBE} emoji {_GLOBE} text"),  # 4-byte UTF-8
    (7, "é combining é mark"),  # combining diacritics
    (8, "ｆｕｌｌwidth ＡＳＣＩＩ ascii"),
    (9, "x" * 100_000),  # 100k-char single-token document
    (10, ("tok " * 30).strip()),  # long repetition (shared with 14)
    (11, "the quick brown fox jumps over the lazy dog again and again"),
    (12, "the quick brown fox jumps over the lazy dog again and again"),
    (13, "the quick brown fox jumps over the lazy dog again und again"),
    (14, ("tok " * 20).strip() + " tail"),  # cross-doc duplicated windows
    (15, None),  # NULL text
]

# x1/x2 cap: the xxh64 SQL unroll is sized max_len=96 bytes; doc 9 is
# filtered out BY BYTE LENGTH on both sides (the loud error() guard in
# xxh64_bytes_cte would otherwise fire — never a wrong hash).
_XXH_MAX_BYTES = 96


def _sql_text_lit(s: str | None) -> str:
    """Render a Python string as a DuckDB VARCHAR expression. Control
    bytes and quotes go through chr(n) so the emitted SQL is printable
    UTF-8 (a raw NUL inside a SQL literal is rejected by the parser)."""
    if s is None:
        return "CAST(NULL AS VARCHAR)"
    parts: list[str] = []
    buf: list[str] = []
    for ch in s:
        if ord(ch) < 32 or ch == "'":
            if buf:
                parts.append("'" + "".join(buf) + "'")
                buf = []
            parts.append(f"chr({ord(ch)})")
        else:
            buf.append(ch)
    if buf:
        parts.append("'" + "".join(buf) + "'")
    return " || ".join(parts) if parts else "''"


def _docs_values() -> str:
    return ", ".join(f"({i}, {_sql_text_lit(s)})" for i, s in HOSTILE_DOCS)


_DOCS_CTE = f"hdocs(doc_id, text) AS (VALUES {_docs_values()}),\n    "


def _hostile_df(spark):
    return local_frame(spark, HOSTILE_DOCS, "doc_id int, text string")


# ---------------------------------------------------------------------------
# x1: xxhash64 over hostile bytes
# ---------------------------------------------------------------------------


@query(
    "x1_hostile_xxh64",
    sql=f"""
    WITH {_DOCS_CTE}nn AS (
      SELECT * FROM hdocs
      WHERE text IS NOT NULL AND octet_length(encode(text)) <= {_XXH_MAX_BYTES}
    ),
    {xxh64_sql.xxh64_bytes_cte('nn', 'text', prefix='hx', max_len=_XXH_MAX_BYTES)}
    SELECT doc_id, hx_xxh AS xxh FROM hxf
    UNION ALL
    -- Spark's xxhash64 skips NULL children: the hash of a single NULL
    -- argument is the untouched seed, 42.
    SELECT doc_id, 42 AS xxh FROM hdocs WHERE text IS NULL
    ORDER BY doc_id
    """,
    tier="T1",
    survey="H6,A5,B6",
)
def x1_hostile_xxh64(spark, sf_dir):
    """F.xxhash64 parity on hostile bytes: empty string, bare and embedded
    NULs, 4-byte UTF-8, combining marks, fullwidth forms, and a NULL row
    (hash = seed 42). The oracle recomputes Spark's XXH64 bit-for-bit
    from the UTF-8 bytes (plans/xxh64_sql.py); the 100k-char doc is
    byte-length-filtered on both sides — the SQL unroll's max_len guard
    errors loudly rather than hash wrong."""
    return (
        _hostile_df(spark)
        .where(
            F.col("text").isNull()
            | (F.octet_length("text") <= _XXH_MAX_BYTES)
        )
        .select("doc_id", F.xxhash64("text").alias("xxh"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# x2: the full MinHash/LSH dedup pipeline on hostile text
# ---------------------------------------------------------------------------


@query(
    "x2_hostile_minhash_dedup",
    sql=minhash_oracle_sql(
        docs_src="hd",
        num_perm=16,
        bands=4,
        shingle_k=3,
        threshold=0.5,
        pre_ctes=_DOCS_CTE
        + f"""hd AS (
      SELECT * FROM hdocs
      WHERE text IS NULL OR octet_length(encode(text)) <= {_XXH_MAX_BYTES}
    ),
    """,
        shingle_max_len=96,
    )
    + """
    SELECT d.doc_id FROM hd d ANTI JOIN doomed USING (doc_id)
    ORDER BY doc_id
    """,
    tier="T2",
    survey="L2,A5,B6",
)
def x2_hostile_minhash_dedup(spark, sf_dir):
    """dedup.minhash_lsh_dedup end-to-end on the hostile corpus (16 perms,
    4 bands, k=3 shingles, threshold 0.5): NUL-bearing shingles hash
    through xxhash64 like any other bytes; empty/whitespace/NULL docs
    collapse to the [''] or ['','']-style singleton shingle sets and
    dedup among themselves; the identical docs 11/12 and the near-dup 13
    cluster (Jaccard 7/13 >= 0.5) leaving the smallest doc_id. The 100k
    doc is byte-filtered as in x1. Oracle: the parametrized l2 unroll —
    shingle xxh64 -> permutation mins -> band buckets -> candidates ->
    exact Jaccard -> recursive-CTE components."""
    docs = _hostile_df(spark).where(
        F.col("text").isNull() | (F.octet_length("text") <= _XXH_MAX_BYTES)
    )
    out = dedup.minhash_lsh_dedup(
        docs,
        "doc_id",
        "text",
        threshold=0.5,
        num_perm=16,
        bands=4,
        shingle_k=3,
        persist_intermediate=False,
    )
    return out.select("doc_id").orderBy("doc_id")


# ---------------------------------------------------------------------------
# x3: BPE training with the adversarial-word guard
# ---------------------------------------------------------------------------

_X3_MERGES = 4
_X3_TOP_WORDS = 40
_X3_MAX_WORD = 64

from oeem_etl_spark.plans.corpus_queries import _bpe_cte  # noqa: E402

_X3_MERGE_UNION = " UNION ALL ".join(
    f"SELECT CAST({i} AS INTEGER) AS step, l AS left_sym, r AS right_sym,"
    f" l || r AS merged, cnt AS pair_count FROM b{i}"
    for i in range(1, _X3_MERGES + 1)
)


@query(
    "x3_hostile_bpe_train",
    sql=f"""
    {_bpe_cte(n_merges=_X3_MERGES, top_words=_X3_TOP_WORDS, src='hdocs',
              max_word_len=_X3_MAX_WORD, pre_ctes=_DOCS_CTE)}
    SELECT step, left_sym, right_sym, merged, pair_count
    FROM ({_X3_MERGE_UNION}) ORDER BY step
    """,
    tier="T2",
    survey="L13,L5,A5,H2",
)
def x3_hostile_bpe_train(spark, sf_dir):
    """BPE training over the hostile corpus with the max_word_len guard
    (operators/bpe.py word_freq — the production cap a crawl corpus
    needs; cf. WordPiece's max_input_chars_per_word): the 100k-char
    'x'*100000 word is extracted by [a-z]+ on both engines and then
    dropped by the 64-char cap instead of riding every merge round as a
    100k-symbol vocabulary row keyed by a 100 kB string. NUL/emoji/
    fullwidth text exercises regexp_extract_all parity; training runs 4
    unrolled merge rounds, oracle-checked including pair counts."""
    docs = _hostile_df(spark)
    merges, _ = bpe.bpe_train(
        docs,
        n_merges=_X3_MERGES,
        top_words=_X3_TOP_WORDS,
        max_word_len=_X3_MAX_WORD,
    )
    return local_frame(
        spark,
        [(s, lft, rgt, lft + rgt, cnt) for s, lft, rgt, cnt in merges],
        "step int, left_sym string, right_sym string, merged string,"
        " pair_count bigint",
    ).orderBy("step")


# ---------------------------------------------------------------------------
# x4: exact-substring dedup + byte-exact rebuild proof
# ---------------------------------------------------------------------------

_X4_WINDOW = 3


@query(
    "x4_hostile_substring_dedup",
    # l62b's rebuild-proof shape at window=3 over the hostile corpus;
    # text pre-coalesced to '' on both sides (the operator contract is
    # non-null text; the NULL row documents the required guard).
    sql=f"""
    WITH {_DOCS_CTE}w AS (
      SELECT doc_id, str_split(COALESCE(text, ''), ' ') AS words FROM hdocs
    ), win AS (
      SELECT doc_id, i - 1 AS s, i + {_X4_WINDOW - 2} AS e,
             array_to_string(list_slice(words, i, i + {_X4_WINDOW - 1}), ' ') AS gram
      FROM w, UNNEST(range(1, len(words) - {_X4_WINDOW - 2})) AS t(i)
    ), canon AS (
      SELECT gram, MIN(doc_id) AS canon_doc, COUNT(DISTINCT doc_id) AS nd
      FROM win GROUP BY gram
    ), dropw AS (
      SELECT win.doc_id, win.s, win.e
      FROM win JOIN canon USING (gram)
      WHERE canon.nd >= 2 AND win.doc_id <> canon.canon_doc
    ), isl AS (
      SELECT doc_id, s, e,
             SUM(CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s) AS island
      FROM (
        SELECT doc_id, s, e,
               MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS pmax
        FROM dropw)
    ), merged AS (
      SELECT doc_id, island, MIN(s) AS ms, MAX(e) AS me
      FROM isl GROUP BY doc_id, island
    ), pos AS (
      SELECT doc_id, UNNEST(range(ms, me + 1)) AS p FROM merged
    ), tok AS (
      SELECT w.doc_id, w.words[t.i] AS word, t.i - 1 AS p
      FROM w, UNNEST(range(1, len(w.words) + 1)) AS t(i)
    ), kept AS (
      SELECT tok.doc_id,
             COALESCE(string_agg(tok.word, ' ' ORDER BY tok.p)
                      FILTER (WHERE pos.p IS NULL), '') AS text_deduped,
             COUNT(*) FILTER (WHERE pos.p IS NULL) AS kept_words,
             COUNT(*) FILTER (WHERE pos.p IS NOT NULL) AS dup_words
      FROM tok LEFT JOIN pos ON tok.doc_id = pos.doc_id AND tok.p = pos.p
      GROUP BY tok.doc_id
    )
    SELECT doc_id, md5(text_deduped) AS text_md5, kept_words, dup_words
    FROM kept ORDER BY doc_id
    """,
    tier="T2",
    survey="L1,H8,A5,H6",
)
def x4_hostile_substring_dedup(spark, sf_dir):
    """dedup.substring_dedup rebuild proof (l62b's md5-of-rewritten-text
    shape) at window=3 over the hostile corpus: duplicated 3-word spans
    across docs 10/14 and 11/12/13 are cut from every non-canonical
    copy; NUL-bearing and 4-byte-UTF-8 tokens survive untouched; the
    100k-char doc has one token (< window) and rebuilds byte-exactly;
    the NULL row is pre-coalesced to '' (the operator contract is
    non-null text — this query documents the guard)."""
    docs = _hostile_df(spark).select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    out = dedup.substring_dedup(
        docs, "doc_id", "text", window=_X4_WINDOW, min_docs=2,
        hash_windows=False,
    )
    return out.select(
        "doc_id",
        F.md5("text_deduped").alias("text_md5"),
        (F.col("n_words") - F.col("dup_words")).alias("kept_words"),
        "dup_words",
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# x5: tokenize / stats layer on hostile text
# ---------------------------------------------------------------------------


@query(
    "x5_hostile_text_stats",
    sql=f"""
    WITH {_DOCS_CTE.rstrip().rstrip(',')}
    SELECT doc_id,
           length(text) AS n_chars,
           octet_length(encode(text)) AS n_bytes,
           len(string_split(text, ' ')) AS n_split,
           len(regexp_extract_all(lower(text), '[a-z]+')) AS n_ascii_words,
           length(text) - length(replace(text, chr(0), '')) AS n_nul,
           CASE WHEN text IS NULL THEN NULL
                WHEN trim(text) = '' THEN 1 ELSE 0 END AS ws_only
    FROM hdocs ORDER BY doc_id
    """,
    tier="T1",
    survey="L7,L5,B6,A5,H1",
)
def x5_hostile_text_stats(spark, sf_dir):
    """Tokenize/stats parity on every hostile doc including the 100k-char
    token and the NULL row: code-point length vs byte length (4-byte
    UTF-8 and combining marks diverge), split cardinality on empty /
    multi-space strings (Spark split and DuckDB string_split agree:
    '' -> [''], '   ' -> 4 empties), ASCII word extraction, NUL count,
    whitespace-only flag. NULL text propagates NULL everywhere."""
    # size() wrapped in a null guard: under ANSI-off (hostile-config
    # re-certification) legacy size(NULL) returns -1, not NULL — the
    # guard keeps the NULL row's stats NULL in BOTH configs.
    def nsize(c):
        return F.when(F.col("text").isNull(), F.lit(None).cast("int")).otherwise(
            F.size(c)
        )

    return (
        _hostile_df(spark)
        .select(
            "doc_id",
            F.length("text").alias("n_chars"),
            F.octet_length("text").alias("n_bytes"),
            nsize(F.split("text", " ")).alias("n_split"),
            nsize(
                F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), F.lit(0))
            ).alias("n_ascii_words"),
            (
                F.length("text")
                - F.length(F.regexp_replace("text", "\x00", ""))
            ).alias("n_nul"),
            F.when(F.col("text").isNull(), F.lit(None).cast("int"))
            .when(F.trim("text") == "", 1)
            .otherwise(0)
            .alias("ws_only"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# x6: SymSpell fuzzy join on hostile names
# ---------------------------------------------------------------------------

# Fuzzy-join corpus: single-byte code points ONLY (ASCII + NUL). Probed
# 2026-08-16: DuckDB's levenshtein is BYTE-level (utf8proc strings compared
# bytewise) while Spark's is CODE-POINT-level — 'é' vs 'é' is 2 in
# Spark, 3 in DuckDB; a 4-byte emoji insert is 1 vs 4. A cross-engine value
# oracle therefore requires byte==codepoint names; the multi-byte behavior
# is pinned Spark-side in tests/test_hostile_text.py (SymSpell candidates ==
# Spark's own brute force on emoji/fullwidth/combining names).
_FUZZY_NAMES: list[tuple[int, str | None]] = [
    (1, "meter-001"),
    (2, "meter-01"),      # deletion of 1 -> dist 1
    (3, "meter-002"),     # substitution vs 1 -> dist 1
    (4, "metre-001"),     # transposition vs 1 -> levenshtein 2: excluded
    (5, "a\x00b"),        # NUL inside the join key
    (6, "ab"),            # NUL deletion -> dist 1 vs 5
    (7, "a\x00c"),        # NUL-adjacent substitution -> dist 1 vs 5
    (8, ""),              # empty string (deletion_variants guard path)
    (9, "x"),             # dist 1 vs empty
    (10, "x" * 100),      # long token (fan-out = len+1 variants)
    (11, "x" * 100 + "y"),  # dist 1 vs 10
    (12, "o'brien"),      # quote char (SQL-literal escaping path)
    (13, "obrien"),       # dist 1 vs 12
    (14, None),           # NULL name: no variants, no matches
]


def _names_values() -> str:
    return ", ".join(f"({i}, {_sql_text_lit(s)})" for i, s in _FUZZY_NAMES)


@query(
    "x6_hostile_fuzzy_join",
    sql=f"""
    WITH fnames(id, name) AS (VALUES {_names_values()}),
    nn AS (SELECT * FROM fnames WHERE name IS NOT NULL)
    SELECT a.id AS a_id, b.id AS b_id,
           CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist
    FROM nn a, nn b
    WHERE a.id < b.id AND levenshtein(a.name, b.name) <= 1
    ORDER BY a_id, b_id
    """,
    tier="T2",
    survey="H3,H9,A5,B6",
)
def x6_hostile_fuzzy_join(spark, sf_dir):
    """operators/text.fuzzy_join (SymSpell deletion-neighborhood candidates,
    hash-equi-join, levenshtein verify — never the all-pairs square) on
    hostile join keys: NUL bytes inside names (variant generation and the
    hash join both carry them), the empty string (the deletion_variants
    sequence(1,0) guard path), 100-char tokens (bounded len+1 fan-out),
    quote characters (SQL-literal escaping), and a NULL name (no variants
    -> never matches; levenshtein(NULL,·) is NULL-filtered on both
    engines). The oracle is the brute-force quadratic. Corpus restricted
    to 1-byte code points: DuckDB levenshtein is byte-level, Spark's
    code-point-level (probed — they diverge on emoji/combining marks);
    the unicode face is pinned Spark-side in tests/test_hostile_text.py.
    IDs only in the output: NUL-bearing names never cross the driver's
    pandas canonicalization."""
    from oeem_etl_spark.operators.text import fuzzy_join

    names = local_frame(spark, _FUZZY_NAMES, "id int, name string")
    left = names.select(F.col("id").alias("a_id"), F.col("name").alias("a_name"))
    right = names.select(F.col("id").alias("b_id"), F.col("name").alias("b_name"))
    return (
        fuzzy_join(left, right, "a_name", "b_name", max_dist=1)
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", F.col("dist").cast("int").alias("dist"))
        .orderBy("a_id", "b_id")
    )


# ---------------------------------------------------------------------------
# x7: inverted-index phrase + conjunctive search on hostile text
# ---------------------------------------------------------------------------

_X7_PHRASE = ["the", "quick", "brown"]
_X7_CONJ = ["nul\x00mid", "token"]


@query(
    "x7_hostile_inverted_search",
    sql=f"""
    WITH {_DOCS_CTE}p AS (
      SELECT doc_id, w AS term, CAST(pos - 1 AS BIGINT) AS pos
      FROM (
        SELECT doc_id,
               unnest(string_split(lower(text), ' ')) AS w,
               unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
        FROM hdocs WHERE text IS NOT NULL
      )
    ),
    slots AS (
      SELECT * FROM (VALUES {", ".join(f"({_sql_text_lit(t)}, {i})" for i, t in enumerate(_X7_PHRASE))})
        AS t(term, slot)
    ),
    votes AS (
      SELECT p.doc_id, p.pos - s.slot AS anchor, s.slot
      FROM p JOIN slots s USING (term)
    ),
    hits AS (
      SELECT doc_id, anchor FROM votes GROUP BY doc_id, anchor
      HAVING COUNT(DISTINCT slot) = {len(_X7_PHRASE)}
    ),
    phr AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS val
      FROM hits GROUP BY doc_id
    ),
    conj AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS val
      FROM p WHERE term IN ({", ".join(_sql_text_lit(t) for t in _X7_CONJ)})
      GROUP BY doc_id HAVING COUNT(DISTINCT term) = {len(_X7_CONJ)}
    ),
    emp AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS val
      FROM p WHERE term = '' GROUP BY doc_id
    )
    SELECT 'conj' AS face, doc_id, val FROM conj
    UNION ALL SELECT 'empty', doc_id, val FROM emp
    UNION ALL SELECT 'phrase', doc_id, val FROM phr
    ORDER BY face, doc_id
    """,
    tier="T2",
    survey="L12,L5,H9,A5,B6",
)
def x7_hostile_inverted_search(spark, sf_dir):
    """operators/search.py on the hostile corpus, three retrieval faces
    over ONE postings build: positional phrase search for 'the quick
    brown' (docs 11-13; anchor-vote plan), conjunctive AND-retrieval for
    a NUL-EMBEDDED term pair (doc 5 — the IN-list filter, broadcast slot
    join and hash agg all carry the NUL through), and retrieval of the
    EMPTY term (split-on-space artifacts: '' -> [''], ' ' -> ['',''],
    whitespace-only -> 4 empties — exactly what a crawl corpus feeds an
    unguarded tokenizer). NULL text contributes no postings (posexplode
    of NULL = no rows; the oracle mirrors with IS NOT NULL)."""
    from oeem_etl_spark.operators import search

    postings = search.build_postings(_hostile_df(spark)).localCheckpoint()
    phr = search.phrase_search(postings, _X7_PHRASE).select(
        F.lit("phrase").alias("face"), "doc_id", F.col("n_matches").alias("val")
    )
    conj = search.conjunctive_search(postings, _X7_CONJ).select(
        F.lit("conj").alias("face"), "doc_id", F.col("n_occurrences").alias("val")
    )
    emp = search.conjunctive_search(postings, [""]).select(
        F.lit("empty").alias("face"), "doc_id", F.col("n_occurrences").alias("val")
    )
    return conj.unionByName(emp).unionByName(phr).orderBy("face", "doc_id")


# ---------------------------------------------------------------------------
# x8: BM25 ranked retrieval on hostile text
# ---------------------------------------------------------------------------

_X8_TERMS = ["again", "und", "nul\x00mid", "emoji"]


@query(
    "x8_hostile_bm25",
    sql=f"""
    WITH {_DOCS_CTE}dl AS (
      SELECT doc_id,
             CASE WHEN text IS NULL THEN 0
                  ELSE len(string_split(text, ' ')) END AS dl
      FROM hdocs
    ), stats AS (
      SELECT COUNT(*) AS n, SUM(dl) AS sum_dl FROM dl
    ), hits AS (
      SELECT doc_id, tok AS term, COUNT(*) AS tf FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM hdocs
      ) WHERE tok IN ({", ".join(_sql_text_lit(t) for t in _X8_TERMS)})
      GROUP BY doc_id, tok
    ), dfreq AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM hits GROUP BY term
    )
    SELECT h.doc_id,
           COUNT(*) AS n_hit_terms,
           ROUND(SUM(CAST(ROUND(
             (ln(1.0 + (n - df + 0.5) / (df + 0.5))
              * (tf * (1.2 + 1.0))
              / (tf + 1.2 * (0.25 + 0.75 * (dl / (sum_dl / n)))))
             * 1000000.0) AS BIGINT)) / 1000000.0, 6) AS score
    FROM hits h JOIN dfreq USING (term) JOIN dl USING (doc_id)
    CROSS JOIN stats
    GROUP BY h.doc_id
    ORDER BY doc_id
    """,
    tier="T2",
    survey="L6,L5,H5,A5,B6",
)
def x8_hostile_bm25(spark, sf_dir):
    """operators/text.bm25_scores over the hostile corpus: query terms
    include a NUL-embedded token ('nul\\x00mid' — map-side IN-list prune,
    df join and micros-quantized partials all NUL-clean) plus 'again'/
    'und' (the near-dup trio 11-13, exercising tf>1) and 'emoji' (doc 6).
    The NULL-text row rides the corpus statistics as an EMPTY document
    (dl=0, still in N and avgdl) via an explicit isNull branch — bare
    size() would have made avgdl config-dependent under legacy
    size(NULL)=-1 sessions (the x5 ANSI-off lesson, now guarded inside
    the operator); the 100k-char doc is a dl=1 document that shifts
    avgdl identically on both engines."""
    from oeem_etl_spark.operators.text import bm25_scores

    out = bm25_scores(_hostile_df(spark), "doc_id", "text", _X8_TERMS)
    return out.select("doc_id", "n_hit_terms", "score").orderBy("doc_id")


# ---------------------------------------------------------------------------
# x9: cross-document boilerplate n-grams on hostile text
# ---------------------------------------------------------------------------

_X9_N = 3  # 3-grams: docs 10/14 share the 'tok tok tok' window family


@query(
    "x9_hostile_boilerplate",
    sql=f"""
    WITH {_DOCS_CTE}w AS (
      SELECT doc_id,
             CASE WHEN text IS NULL THEN CAST([] AS VARCHAR[])
                  ELSE str_split(text, ' ') END AS words
      FROM hdocs
    ), g AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(words, i, i + {_X9_N - 1}), ' ') AS gram
      FROM w, UNNEST(range(1, len(words) - {_X9_N - 2})) AS t(i)
    ), df AS (
      SELECT gram, COUNT(*) AS df_docs FROM g GROUP BY gram
    )
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           ROUND(SUM(CASE WHEN df.df_docs >= 2 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS boiler_frac
    FROM g JOIN df USING (gram)
    GROUP BY g.doc_id
    ORDER BY doc_id
    """,
    tier="T2",
    survey="L7,L5,H9,A5,B6",
)
def x9_hostile_boilerplate(spark, sf_dir):
    """The l58 cross-document boilerplate signal (repeated word n-grams,
    the C4/RefinedWeb pruning rule) at 3-grams over the hostile corpus:
    the repeated-window docs 10/14 and the near-dup trio 11-13 light up
    as boilerplate (df >= 2), NUL- and emoji-bearing grams group-by
    cleanly as opaque bytes, sub-3-token docs (empty/whitespace/NUL/100k
    single-token) produce NO grams and drop out on both engines, and
    NULL text maps to an explicit empty token array (the guarded path a
    bare str_split would NULL-poison)."""
    from oeem_etl_spark.operators.text import ngrams_from_tokens

    toks = F.when(
        F.col("text").isNull(), F.array().cast("array<string>")
    ).otherwise(F.split("text", " "))
    g = (
        _hostile_df(spark)
        .select("doc_id", toks.alias("words"))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(ngrams_from_tokens(F.col("words"), _X9_N))
            ).alias("gram"),
        )
    )
    df_docs = g.groupBy("gram").agg(F.count(F.lit(1)).alias("df_docs"))
    return (
        g.join(df_docs, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.round(
                F.sum(F.when(F.col("df_docs") >= 2, 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("boiler_frac"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# x10: quality-signal tier (entropy / repetition / gate) on hostile text
# ---------------------------------------------------------------------------


@query(
    "x10_hostile_quality_signals",
    sql=f"""
    WITH {_DOCS_CTE}h AS (
      SELECT doc_id, COALESCE(text, '') AS text FROM hdocs
    ),
    c AS (
      SELECT doc_id, regexp_extract_all(text, '.') AS cs,
             len(regexp_extract_all(text, '.')) AS n
      FROM h
    ),
    ent AS (
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
    ),
    d AS (SELECT doc_id, string_split(text, ' ') AS t FROM h),
    tc AS (
      SELECT doc_id, tok, COUNT(*) AS cnt FROM (
        SELECT doc_id, unnest(t) AS tok FROM d
      ) GROUP BY doc_id, tok
    ),
    dup AS (
      SELECT doc_id,
             ROUND(CAST(COALESCE(SUM(cnt) FILTER (WHERE cnt > 1), 0)
                        AS BIGINT) / SUM(cnt), 6) AS dup_token_frac
      FROM tc GROUP BY doc_id
    ),
    bg AS (
      SELECT doc_id, t[i] || ' ' || t[i + 1] AS bigram
      FROM d, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) s
      WHERE len(t) >= 2
    ),
    bc AS (
      SELECT doc_id, bigram, COUNT(*) AS cnt FROM bg GROUP BY doc_id, bigram
    ),
    bstat AS (
      SELECT doc_id, ROUND(MAX(cnt) * 1.0 / SUM(cnt), 6) AS top_bigram_frac
      FROM bc GROUP BY doc_id
    ),
    gate AS (
      SELECT doc_id, 1 AS passes FROM h
      WHERE length(text) >= 5
        AND len(string_split(text, ' ')) >= 3
        AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
            / len(string_split(text, ' ')) >= 0.3
    )
    SELECT e.doc_id, e.n_chars, e.n_distinct, e.char_entropy,
           dup.dup_token_frac, bstat.top_bigram_frac,
           COALESCE(gate.passes, 0) AS passes
    FROM ent e
    JOIN dup USING (doc_id)
    LEFT JOIN bstat USING (doc_id)
    LEFT JOIN gate USING (doc_id)
    ORDER BY doc_id
    """,
    tier="T2",
    survey="L7,H8,H5,A5,B6",
)
def x10_hostile_quality_signals(spark, sf_dir):
    """The quality-scoring tier (the signals a crawl pipeline gates on
    FIRST) over the hostile corpus: char_entropy's row-local lambda fold
    (H8) handles the 100k-single-char doc (1 distinct char -> entropy
    exactly 0.0 — the single-char-spam detector firing as designed),
    NUL/emoji/combining characters count as code points on both engines
    ('.' is code-point-wise in Java regex AND RE2); repetition signals
    mark the 'tok tok tok' docs (dup_token_frac ~0.97); and the l13
    quality gate fails exactly the empty/whitespace/NUL/single-token/
    boilerplate rows while passing the prose docs. NULL text is
    pre-coalesced to '' (the x4 convention; x5 pins NULL propagation).
    Everything is exact integer/micros arithmetic — no float-order risk."""
    from oeem_etl_spark.operators.text import (
        char_entropy,
        quality_filter,
        repetition_signals,
    )

    docs = _hostile_df(spark).select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    ent = char_entropy(docs, "doc_id", "text")
    rep = repetition_signals(docs, "doc_id", "text")
    gate = quality_filter(
        docs, "text", min_chars=5, min_tokens=3, min_distinct_ratio=0.3
    ).select("doc_id", F.lit(1).alias("passes"))
    return (
        ent.join(rep, "doc_id")
        .join(gate, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            "n_distinct",
            "char_entropy",
            "dup_token_frac",
            "top_bigram_frac",
            F.coalesce("passes", F.lit(0)).alias("passes"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# x11: hostile BINARY tier — try-decode over broken image payloads
# ---------------------------------------------------------------------------


@query(
    "x11_hostile_image_decode",
    sql="""
    SELECT doc_id,
           CASE doc_id % 6
             WHEN 0 THEN 'ok'          -- valid two-tone PNG
             WHEN 1 THEN 'corrupt'     -- PNG truncated mid-chunk
             WHEN 2 THEN 'corrupt'     -- IHDR lies: height doubled
             WHEN 3 THEN 'empty'       -- zero-byte payload
             WHEN 4 THEN 'unsupported' -- magic with no decoder
             ELSE 'ok' END AS status,  -- valid solid-color BMP
           CASE WHEN doc_id % 6 = 0 THEN CAST(5 + doc_id % 4 AS INT)
                WHEN doc_id % 6 = 5 THEN CAST(4 AS INT) END AS width,
           CASE WHEN doc_id % 6 = 0 THEN CAST(4 + 2 * (doc_id % 3) AS INT)
                WHEN doc_id % 6 = 5 THEN CAST(3 AS INT) END AS height,
           CASE WHEN doc_id % 6 = 0 THEN
                  ROUND((CAST(doc_id % 256 AS DOUBLE)
                         + CAST((doc_id * 7) % 256 AS DOUBLE)) / 2, 6)
                WHEN doc_id % 6 = 5 THEN
                  ROUND(CAST(doc_id % 256 AS DOUBLE), 6) END AS mean_r,
           CASE WHEN doc_id % 6 = 0 THEN
                  ROUND((CAST((2 * doc_id) % 256 AS DOUBLE)
                         + CAST((doc_id * 11) % 256 AS DOUBLE)) / 2, 6)
                WHEN doc_id % 6 = 5 THEN
                  ROUND(CAST((2 * doc_id) % 256 AS DOUBLE), 6) END AS mean_g,
           CASE WHEN doc_id % 6 = 0 THEN
                  ROUND((CAST((3 * doc_id) % 256 AS DOUBLE)
                         + CAST((doc_id * 13) % 256 AS DOUBLE)) / 2, 6)
                WHEN doc_id % 6 = 5 THEN
                  ROUND(CAST((3 * doc_id) % 256 AS DOUBLE), 6) END AS mean_b
    FROM documents WHERE doc_id < 36
    ORDER BY doc_id
    """,
    tier="T3",
    survey="L8,J4,A5",
)
def x11_hostile_image_decode(spark, sf_dir):
    """The hostile-BINARY tier: the x1-x10 idea —
    adversarial inputs with a full value oracle — driven through the
    image decode path. Six payload kinds per doc_id % 6: (0) a valid
    l8f-style two-tone RGBA PNG; (1) the same PNG truncated to half its
    bytes (zlib stream cut mid-chunk); (2) the same PNG with its IHDR
    HEIGHT field doubled and the chunk CRC re-stamped — a lying header
    that parses but fails the decoded-size invariant; (3) a zero-byte
    payload; (4) sixteen bytes of junk whose magic matches no decoder;
    (5) a valid solid-color 24-bit BMP. try_image_features
    (operators/multimodal.py) classifies each row instead of failing the
    task — at 100 TB one bad crawl byte must cost one quarantined row,
    never the job. The oracle recomputes every status and every decoded
    dimension/channel-mean symbolically from the doc_id formulas."""
    import struct
    import zlib

    import numpy as np
    import pandas as pd

    from oeem_etl_spark.operators import imagecodec, multimodal

    docs = T(spark, sf_dir, "documents").where(F.col("doc_id") < 36).select("doc_id")

    def _two_tone_png(d: int) -> bytes:
        w, h = 5 + d % 4, 4 + 2 * (d % 3)
        px = np.zeros((h, w, 4), dtype=np.uint8)
        px[: h // 2, :, :3] = [d % 256, (2 * d) % 256, (3 * d) % 256]
        px[h // 2 :, :, :3] = [(7 * d) % 256, (11 * d) % 256, (13 * d) % 256]
        px[:, :, 3] = 255
        return imagecodec.encode_png(px)

    def _lying_height(buf: bytes) -> bytes:
        # IHDR body starts at 16 (8 sig + 4 len + 4 type); height is
        # body[4:8]. Double it and re-stamp the CRC so the file is
        # chunk-valid — only the decoded-size invariant can catch it.
        (h,) = struct.unpack(">I", buf[20:24])
        body = buf[16:20] + struct.pack(">I", h * 2) + buf[24:29]
        crc = struct.pack(">I", zlib.crc32(b"IHDR" + body) & 0xFFFFFFFF)
        return buf[:16] + body + crc + buf[33:]

    def encode(batches):
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                kind = d % 6
                if kind == 0:
                    payload = _two_tone_png(d)
                elif kind == 1:
                    buf = _two_tone_png(d)
                    payload = buf[: max(12, len(buf) // 2)]
                elif kind == 2:
                    payload = _lying_height(_two_tone_png(d))
                elif kind == 3:
                    payload = b""
                elif kind == 4:
                    payload = bytes([1, d % 256, 255, 254]) * 4
                else:
                    px = np.zeros((3, 4, 3), dtype=np.uint8)
                    px[:, :] = [d % 256, (2 * d) % 256, (3 * d) % 256]
                    payload = imagecodec.encode_bmp(px)
                rows.append((d, payload))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    encoded = docs.mapInPandas(encode, "doc_id long, payload binary")
    assets = multimodal.to_multimodal(
        encoded, "doc_id", "payload", "application/octet-stream"
    )
    return (
        multimodal.try_image_features(assets)
        .select(
            F.col("asset_id").alias("doc_id"),
            "status", "width", "height", "mean_r", "mean_g", "mean_b",
        )
        .orderBy("doc_id")
    )
