"""Declared LLM-data-pipeline queries (SURVEY.md §2.L + the training-data
operators: dedup, similarity search, text analysis, multimodal plumbing).

Engine-internal-hash ops (MinHash/SimHash/winnowing, xxhash64-based) are
rows-only here and exact-verified by unit fixtures in tests/test_llm.py;
everything else carries a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from oeem_etl_spark.catalog import local_frame
from oeem_etl_spark.operators import corpus as corpus_ops
from oeem_etl_spark.operators import dedup, multimodal, similarity, text
from oeem_etl_spark.plans import xxh64_sql
from oeem_etl_spark.plans.registry import query
from oeem_etl_spark.operators.splits import sql_hash_uniform
from oeem_etl_spark.plans.util import T

# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------


@query(
    "l1_exact_dedup",
    sql="""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (
               PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
    tier="T3",
    survey="L1,H6,D12",
)
def l1_exact_dedup(spark, sf_dir):
    """Exact dedup on normalized text, smallest doc_id survives."""
    docs = T(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, "text", "doc_id").select(
        "doc_id", "lang", "source"
    )


def minhash_oracle_sql(
    docs_src: str = "documents",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.8,
    pre_ctes: str = "",
    shingle_max_len: int = 64,
    band_max_len: int = 64,
) -> str:
    """Parametrized form of the l2 oracle (see _l2_sql docstring) so other
    corpora — notably the hostile-text inline fixture in
    plans/hostile_queries.py — can value-check dedup.minhash_lsh_dedup at
    any (num_perm, bands, shingle_k, threshold) setting. ``pre_ctes``
    (must end with a comma) lets the caller prepend an inline VALUES
    table; ``docs_src`` must expose (doc_id, text) and the final SELECT
    returns the surviving doc_ids ordered."""
    from oeem_etl_spark.operators.dedup import _MERSENNE_P, _PERM_A, _PERM_B

    P = _MERSENNE_P
    rpb = num_perm // bands
    assert rpb * bands == num_perm
    mins = ",\n           ".join(
        f"MIN((hv*{_PERM_A[p]}+{_PERM_B[p]})%{P}) AS m{p}"
        for p in range(num_perm)
    )
    band_case = " ".join(
        "WHEN {b} THEN {expr}".format(
            b=b,
            expr="||','||".join(
                f"CAST(m{rpb * b + j} AS VARCHAR)" for j in range(rpb)
            ),
        )
        for b in range(bands)
    )
    band_vals = ",".join(f"({b})" for b in range(bands))
    sh_expr = " || ' ' || ".join(f"t[i+{j}]" for j in range(shingle_k))
    return f"""
    WITH RECURSIVE {pre_ctes}tk AS (
      SELECT doc_id, str_split(text, ' ') AS t FROM {docs_src}
    ),
    sh AS MATERIALIZED (
      SELECT doc_id,
             CASE WHEN len(t) >= {shingle_k} THEN list_distinct(list_transform(
                    generate_series(1, len(t) - {shingle_k - 1}),
                    i -> {sh_expr}))
                  -- COALESCE mirrors Spark: concat_ws over a NULL token
                  -- array returns '' (never NULL), so a NULL-text doc
                  -- gets the [''] singleton shingle set on BOTH sides
                  ELSE [COALESCE(array_to_string(t, ' '), '')] END AS s
      FROM tk
    ),
    us AS (SELECT DISTINCT unnest(s) AS sg FROM sh),
    {xxh64_sql.xxh64_bytes_cte('us', 'sg', prefix='hs', max_len=shingle_max_len)},
    hvt AS MATERIALIZED (SELECT sg, ((hs_xxh % {P}) + {P}) % {P} AS hv FROM hsf),
    ds AS (SELECT doc_id, unnest(s) AS sg FROM sh),
    dh AS (SELECT d.doc_id, h.hv FROM ds d JOIN hvt h USING (sg)),
    sig AS MATERIALIZED (
      SELECT doc_id,
           {mins}
      FROM dh GROUP BY doc_id
    ),
    bstr AS (
      SELECT doc_id, bb.b AS band, CASE bb.b {band_case} END AS bs
      FROM sig CROSS JOIN (VALUES {band_vals}) bb(b)
    ),
    ub AS (SELECT DISTINCT bs FROM bstr),
    {xxh64_sql.xxh64_bytes_cte('ub', 'bs', prefix='hb', max_len=band_max_len)},
    bkt AS MATERIALIZED (SELECT bstr.doc_id, bstr.band, hbf.hb_xxh AS bucket
            FROM bstr JOIN hbf USING (bs)),
    cand AS (
      SELECT DISTINCT a.doc_id AS ka, b.doc_id AS kb
      FROM bkt a JOIN bkt b USING (band, bucket)
      WHERE a.doc_id < b.doc_id
    ),
    e0 AS (
      SELECT c.ka AS a, c.kb AS b
      FROM cand c JOIN sh sa ON sa.doc_id = c.ka
                  JOIN sh sb ON sb.doc_id = c.kb
      WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
            / len(list_distinct(sa.s || sb.s)) >= {threshold}
    ),
    e AS MATERIALIZED (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
    nodes AS (SELECT DISTINCT a AS node FROM e),
    r(node, lbl) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.b, r.lbl FROM r JOIN e ON e.a = r.node
    ),
    lab AS (SELECT node, MIN(lbl) AS label FROM r GROUP BY node),
    doomed AS (SELECT node AS doc_id FROM lab WHERE node <> label)
    """


def _l2_sql() -> str:
    """Full value oracle for the PRODUCTION minhash pipeline (promoted
    from rows-only this round): plans/xxh64_sql.py reproduces Spark's
    xxhash64 over arbitrary UTF-8 bytes bit-for-bit in DuckDB, so the
    engine-native hash family — shingle hashes AND the banded bucket
    hashes — is no longer oracle-opaque. Unrolls: distinct-shingle
    xxh64 mod Mersenne -> 64 multiply-add permutation mins -> 16 bands
    of 4 joined ',' -> xxh64 bucket of each band string -> bucket-equality
    candidates -> exact shingle-Jaccard >= 0.8 -> recursive-CTE min-label
    components -> drop every node whose label differs (keep cluster min),
    mirroring dedup.minhash_lsh_dedup exactly.  Both hash chains run per
    DISTINCT value (shingle / band string), then join back to rows."""
    return minhash_oracle_sql() + """
    SELECT d.doc_id, d.lang, d.source
    FROM documents d ANTI JOIN doomed USING (doc_id)
    """


@query(
    "l2_minhash_lsh_dedup",
    sql=_l2_sql(),
    tier="T3",
    survey="L2",
)
def l2_minhash_lsh_dedup(spark, sf_dir):
    """MinHash+LSH near-dup dedup; survivors with cluster accounting."""
    docs = T(spark, sf_dir, "documents")
    kept = dedup.minhash_lsh_dedup(docs, "doc_id", "text", threshold=0.8)
    return kept.select("doc_id", "lang", "source")


def _md5_int32(c):
    """Oracle-expressible 32-bit hash: first 8 md5 hex chars as an int.
    Same value as DuckDB's CAST(concat('0x', substr(md5(x),1,8)) AS
    UBIGINT) — the hash_uniform idiom (operators/splits.py)."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


_SQL_MD5_INT32 = "CAST(CAST(concat('0x', substr(md5({x}),1,8)) AS UBIGINT) AS BIGINT)"

_L2B_PERMS = 8
_L2B_BANDS = 4
_L2B_MINS = ",\n      ".join(
    f"list_min(list_transform(hv, h -> (h * {dedup._PERM_A[p]} + "
    f"{dedup._PERM_B[p]}) % {dedup._MERSENNE_P})) AS m{p}"
    for p in range(_L2B_PERMS)
)
_L2B_BANDS_SQL = "\n      UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, concat(m{2 * b}, ',', m{2 * b + 1}) AS bucket FROM sig"
    for b in range(_L2B_BANDS)
)


@query(
    "l2b_minhash_candidates",
    # Full value oracle for the ENTIRE LSH candidate pipeline: md5-derived
    # shingle hashes -> 8 multiply-add permutation mins -> 4 bands of 2
    # (lossless string buckets) -> band-equality pairs -> exact Jaccard.
    sql=f"""
    WITH tk AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
    sh AS (
      -- < 3 tokens: whole text as the single shingle (Spark's
      -- shingles_from_tokens fallback; out-of-range t[i+2] would
      -- otherwise yield NULL shingles)
      SELECT doc_id,
             CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
                    generate_series(1, len(t) - 2),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                  ELSE [array_to_string(t, ' ')] END AS s
      FROM tk
    ),
    hs AS (
      SELECT doc_id, s, list_transform(s, x ->
        {_SQL_MD5_INT32.format(x="x")} % {dedup._MERSENNE_P}) AS hv
      FROM sh
    ),
    sig AS (
      SELECT doc_id,
      {_L2B_MINS}
      FROM hs
    ),
    bands AS (
      {_L2B_BANDS_SQL}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS key_a, b.doc_id AS key_b
      FROM bands a JOIN bands b USING (band, bucket)
      WHERE a.doc_id < b.doc_id
    )
    SELECT c.key_a, c.key_b,
           ROUND(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
                 / len(list_distinct(x.s || y.s)), 6) AS jaccard
    FROM cand c
    JOIN sh x ON x.doc_id = c.key_a
    JOIN sh y ON y.doc_id = c.key_b
    """,
    tier="T3",
    survey="L2,H6",
)
def l2b_minhash_candidates(spark, sf_dir):
    """LSH candidate pairs with exact-Jaccard verification scores, built
    on the md5-derived hash family so the WHOLE pipeline (shingle hash ->
    permuted mins -> banding -> bucket join -> verify) is reproduced
    value-for-value by the DuckDB oracle. The production 64-perm xxhash64
    family stays under l2_minhash_lsh_dedup + tests."""
    docs = T(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(
        docs,
        "doc_id",
        "text",
        num_perm=_L2B_PERMS,
        hash_fn=lambda s: F.pmod(_md5_int32(s), F.lit(dedup._MERSENNE_P)),
    )
    cand = dedup.lsh_candidate_pairs(
        sigs, "doc_id", bands=_L2B_BANDS, num_perm=_L2B_PERMS, hash_buckets=False
    )
    return dedup.jaccard_verify(docs, cand, "doc_id", "text").select(
        "key_a", "key_b", F.round("jaccard", 6).alias("jaccard")
    )


_L2C_BITS = 32
_L2C_SUMS = ",\n      ".join(
    f"SUM(CASE WHEN (h // {1 << b}) % 2 = 1 THEN 1 ELSE -1 END) AS b{b}"
    for b in range(_L2C_BITS)
)
_L2C_SIG = " + ".join(
    f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(_L2C_BITS)
)


@query(
    "l2c_simhash_pairs",
    # Full value oracle: 32-bit md5-derived simhash (sign-sums per bit),
    # 8-bit quarter pigeonhole buckets, Hamming <= 3 verify.
    sql=f"""
    WITH toks AS (
      SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents
    ),
    bits AS (
      SELECT doc_id, {_SQL_MD5_INT32.format(x="tok")} AS h FROM toks
    ),
    sums AS (
      SELECT doc_id,
      {_L2C_SUMS}
      FROM bits GROUP BY doc_id
    ),
    sig AS (SELECT doc_id, {_L2C_SIG} AS s FROM sums),
    q AS (
      SELECT doc_id, s,
             s % 256 AS q0, (s // 256) % 256 AS q1,
             (s // 65536) % 256 AS q2, (s // 16777216) % 256 AS q3
      FROM sig
    )
    SELECT a.doc_id AS key_a, b.doc_id AS key_b,
           CAST(bit_count(xor(a.s, b.s)) AS INTEGER) AS hamming
    FROM q a JOIN q b
      ON a.doc_id < b.doc_id
     AND (a.q0 = b.q0 OR a.q1 = b.q1 OR a.q2 = b.q2 OR a.q3 = b.q3)
    WHERE bit_count(xor(a.s, b.s)) <= 3
    """,
    tier="T3",
    survey="L2,H6",
)
def l2c_simhash_pairs(spark, sf_dir):
    """SimHash near-dup candidate pairs (Hamming ≤ 3 via quarter-pigeonhole)
    on the md5-derived 32-bit hash family, so signature sums, quarter
    buckets, and verified pairs are all reproduced by the DuckDB oracle.
    The production 64-bit xxhash64 simhash stays covered in tests."""
    docs = T(spark, sf_dir, "documents")
    sim = dedup.simhash(docs, "doc_id", "text", bits=_L2C_BITS, hash_fn=_md5_int32)
    pairs = dedup.simhash_near_pairs(sim, "doc_id", max_hamming=3, bits=_L2C_BITS)
    return pairs.select(
        "key_a", "key_b", F.col("hamming").cast("int").alias("hamming")
    )


@query(
    "l14_ngram_jaccard_pairs",
    sql="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(str_split(text,' ')) - 2, 1)),
               i -> str_split(text,' ')[i] || ' ' || str_split(text,' ')[i+1]
                    || ' ' || str_split(text,' ')[i+2])) AS s
      FROM documents WHERE doc_id <= 120
    )
    SELECT a.doc_id AS key_a, b.doc_id AS key_b,
           ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(a.s || b.s)), 6) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / len(list_distinct(a.s || b.s)) >= 0.2
    """,
    tier="T3",
    survey="L2,H7,H8",
)
def l14_ngram_jaccard_pairs(spark, sf_dir):
    """Exact n-gram-Jaccard similar pairs on a bounded subset (the
    verify-side primitive of LSH dedup, oracle-checkable end to end)."""
    docs = T(spark, sf_dir, "documents").where(F.col("doc_id") <= 120)
    pairs = (
        docs.select(F.col("doc_id").alias("key_a"))
        .crossJoin(docs.select(F.col("doc_id").alias("key_b")))
        .where(F.col("key_a") < F.col("key_b"))
    )
    j = dedup.jaccard_verify(docs, pairs, "doc_id", "text", shingle_k=3)
    return j.where(F.col("jaccard") >= 0.2).select(
        "key_a", "key_b", F.round("jaccard", 6).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# Similarity search family
# ---------------------------------------------------------------------------

_TOPK_SQL = """
    WITH q AS (SELECT vec_id AS q_id, embedding AS qvec FROM embeddings WHERE vec_id <= 5),
    scored AS (
      SELECT q.q_id, e.vec_id,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qvec AS DOUBLE[])), 6) AS score
      FROM embeddings e CROSS JOIN q
    )
    SELECT q_id, vec_id, score,
           CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS INT) AS rnk
    FROM scored
    QUALIFY rnk <= 10
"""


@query(
    "l3_similarity_topk",
    sql=_TOPK_SQL,
    tier="T3",
    survey="L3,H8,C5,E5",
)
def l3_similarity_topk(spark, sf_dir):
    """Brute-force cosine top-10 for 5 query vectors over the corpus."""
    emb = T(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    out = similarity.cosine_topk(emb, queries, k=10)
    return out.withColumn("rnk", F.col("rnk").cast("int"))


@query(
    "l4_knn_classify",
    sql=f"""
    WITH topk AS ({_TOPK_SQL}),
    votes AS (
      SELECT t.q_id, e.label, COUNT(*) AS votes
      FROM topk t JOIN embeddings e USING (vec_id)
      GROUP BY t.q_id, e.label
    )
    SELECT q_id, label AS predicted, votes FROM votes
    QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, label) = 1
    """,
    tier="T3",
    survey="L4",
)
def l4_knn_classify(spark, sf_dir):
    """kNN majority-label classification of the 5 query vectors."""
    emb = T(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return similarity.knn_classify(emb, queries, k=10)


def _l3b_sql(dim: int = 64, n_planes: int = 4, k: int = 10) -> str:
    """Oracle for the LSH-bucketed ANN (promoted from rows-only this
    round): recall < 1 never blocked an oracle — the ALGORITHM is
    deterministic; the barrier was believed to be float reduction order.
    But vector.dot is a SEQUENTIAL left fold (F.aggregate, init 0.0),
    and IEEE-754 double arithmetic is exactly reproducible when the
    operation ORDER is fixed — so an unrolled, fully-parenthesized
    left-associated sum in DuckDB computes the bit-identical double:
    same plane-sign bits, same buckets, same cosines, same rounded
    scores. Plane constants print via repr() (shortest round-trip), so
    both engines parse the identical double."""
    from oeem_etl_spark.operators.similarity import _hyperplane

    def fold(terms) -> str:
        e = "CAST(0.0 AS DOUBLE)"
        for t in terms:
            e = f"({e} + {t})"
        return e

    def elem(tbl: str, i: int) -> str:
        return f"CAST({tbl}.embedding[{i + 1}] AS DOUBLE)"

    def bucket(tbl: str) -> str:
        bits = []
        for p in range(n_planes):
            plane = _hyperplane(dim, p)
            d = fold(
                f"{elem(tbl, i)} * CAST({plane[i]!r} AS DOUBLE)"
                for i in range(dim)
            )
            bits.append(f"(CASE WHEN {d} > 0 THEN {1 << p} ELSE 0 END)")
        return " + ".join(bits)

    pair_dot = fold(f"{elem('c', i)} * {elem('q', i)}" for i in range(dim))
    nc = fold(f"{elem('c', i)} * {elem('c', i)}" for i in range(dim))
    nq = fold(f"{elem('q', i)} * {elem('q', i)}" for i in range(dim))
    return f"""
    WITH cb AS MATERIALIZED (
      SELECT vec_id, embedding, {bucket('embeddings')} AS bucket
      FROM embeddings
    ),
    qb AS (SELECT vec_id AS q_id, embedding, bucket FROM cb WHERE vec_id <= 5),
    sc AS (
      SELECT q.q_id, c.vec_id,
             ROUND(({pair_dot}) / (sqrt({nc}) * sqrt({nq})), 6) AS score
      FROM cb c JOIN qb q USING (bucket)
    )
    SELECT q_id, vec_id, score,
           CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY score DESC, vec_id) AS INT) AS rnk
    FROM sc
    QUALIFY rnk <= {k}
    ORDER BY q_id, rnk
    """


@query("l3b_ann_lsh_topk", sql=_l3b_sql(), tier="T3", survey="L3")
def l3b_ann_lsh_topk(spark, sf_dir):
    """Approximate LSH-bucketed top-k (the 100 TB path). Recall vs the
    exact operator is asserted in tests/test_llm.py; the bucketed
    algorithm ITSELF is deterministic and now fully oracle-checked —
    see _l3b_sql for the fixed-order IEEE argument."""
    emb = T(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return similarity.ann_lsh_topk(emb, queries, k=10, n_planes=4)


@query(
    "l3c_ivf_topk",
    sql="""
    WITH cells AS (
      SELECT label, s.i,
             SUM(CAST(round(CAST(embedding[s.i] AS DOUBLE) * 1000000)
                 AS BIGINT)) AS c
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) s
      GROUP BY label, s.i
    ),
    cent AS (SELECT label, list(c ORDER BY i) AS cv FROM cells GROUP BY label),
    q AS (SELECT vec_id AS q_id, embedding AS qvec FROM embeddings
          WHERE vec_id <= 5),
    probes AS (
      SELECT q_id, qvec, label FROM (
        SELECT q.q_id, q.qvec, c.label,
               row_number() OVER (PARTITION BY q.q_id ORDER BY
                 ROUND(list_cosine_similarity(CAST(q.qvec AS DOUBLE[]),
                                              CAST(c.cv AS DOUBLE[])), 6)
                   DESC, c.label) AS pr
        FROM q CROSS JOIN cent c
      ) WHERE pr <= 3
    ),
    scored AS (
      SELECT p.q_id, e.vec_id,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          CAST(p.qvec AS DOUBLE[])), 6)
               AS score
      FROM embeddings e JOIN probes p USING (label)
    )
    SELECT q_id, vec_id, score,
           CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY score DESC, vec_id) AS INT) AS rnk
    FROM scored
    QUALIFY rnk <= 10
    """,
    tier="T3",
    survey="L3",
)
def l3c_ivf_topk(spark, sf_dir):
    """IVF-style probe search using per-label centroids.

    ORACLE-checked: the centroid is the
    element-wise integer-micros SUM per label (cosine is scale-invariant,
    so probe ranking equals ranking against the mean — but the integer
    sum is exact and shuffle-order-independent), so probe selection,
    candidate scoring and the final top-k all reproduce in plain SQL.
    The op stays approximate (recall < 1 vs l3 by construction — only
    n_probe=3 of the label partitions are searched), but approximate
    does not mean unverifiable."""
    emb = T(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    out = similarity.ivf_topk(emb, queries, k=10, n_probe=3)
    return out.withColumn("rnk", F.col("rnk").cast("int"))


@query(
    "l15_embedding_neardup",
    sql="""
    SELECT a.vec_id AS key_a, b.vec_id AS key_b,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id <= 200 AND b.vec_id <= 200
      AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) > 0.9
    """,
    tier="T3",
    survey="L2,L3",
)
def l15_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (bounded subset, exact)."""
    emb = T(spark, sf_dir, "embeddings").where(F.col("vec_id") <= 200)
    a = emb.select(F.col("vec_id").alias("key_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("key_b"), F.col("embedding").alias("eb"))
    from oeem_etl_spark.functions import vector

    pairs = a.crossJoin(b).where(F.col("key_a") < F.col("key_b"))
    cos = vector.cosine("ea", "eb")
    return pairs.where(cos > 0.9).select(
        "key_a", "key_b", F.round(cos, 6).alias("cos")
    )


# ---------------------------------------------------------------------------
# Text analysis family
# ---------------------------------------------------------------------------


@query(
    "l5_ngrams",
    sql="""
    WITH grams AS (
      SELECT unnest(list_transform(
               generate_series(1, greatest(len(str_split(text,' ')) - 1, 0)),
               i -> str_split(text,' ')[i] || ' ' || str_split(text,' ')[i+1])) AS bigram
      FROM documents
    )
    SELECT bigram, COUNT(*) AS n FROM grams
    GROUP BY bigram ORDER BY n DESC, bigram LIMIT 25
    """,
    tier="T3",
    survey="L5,H8,H9",
)
def l5_ngrams(spark, sf_dir):
    """Top bigrams across the corpus (token column materialized before the
    n-gram transform — see text.ngrams_from_tokens)."""
    docs = T(spark, sf_dir, "documents")
    return (
        docs.select(F.split("text", " ").alias("__toks"))
        .select(F.explode(text.ngrams_from_tokens(F.col("__toks"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(25)
    )


@query(
    "l6_tf_idf",
    sql="""
    WITH tf AS (
      SELECT doc_id, tok AS term, COUNT(*) AS tf FROM (
        SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents
      ) GROUP BY doc_id, tok
    ), dfreq AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
           ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 6) AS tfidf
    FROM tf JOIN dfreq USING (term) CROSS JOIN n
    WHERE tf.doc_id <= 100
    """,
    tier="T3",
    survey="L6,H9,D1,H5",
)
def l6_tf_idf(spark, sf_dir):
    """tf-idf over the corpus (df computed on ALL docs, output bounded)."""
    docs = T(spark, sf_dir, "documents")
    out = text.tf_idf(docs, "doc_id", "text")
    return out.where(F.col("doc_id") <= 100).select(
        "doc_id", "term", "tf", "df", "tfidf"
    )


@query(
    "l7_text_stats",
    sql="""
    SELECT doc_id,
           length(text) AS n_chars,
           len(str_split(text, ' ')) AS n_tokens,
           ROUND(CAST(length(text) - (len(str_split(text,' ')) - 1) AS DOUBLE)
                 / len(str_split(text,' ')), 6) AS avg_token_len,
           ROUND(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
                 / length(text), 6) AS alpha_ratio,
           ROUND(CAST(len(list_distinct(str_split(text,' '))) AS DOUBLE)
                 / len(str_split(text,' ')), 6) AS distinct_ratio
    FROM documents WHERE doc_id <= 300
    """,
    tier="T3",
    survey="L7,H1,H2",
)
def l7_text_stats(spark, sf_dir):
    """Per-document quality features."""
    docs = T(spark, sf_dir, "documents").where(F.col("doc_id") <= 300)
    return text.text_stats(docs, "doc_id", "text")


@query(
    "l13_quality_filter",
    sql="""
    SELECT lang, COUNT(*) AS n_kept FROM documents
    WHERE length(text) >= 50
      AND len(str_split(text,' ')) >= 10
      AND CAST(len(list_distinct(str_split(text,' '))) AS DOUBLE)
          / len(str_split(text,' ')) >= 0.2
    GROUP BY lang
    """,
    tier="T3",
    survey="L7,B3",
)
def l13_quality_filter(spark, sf_dir):
    """Quality-gate survivors per language."""
    docs = T(spark, sf_dir, "documents")
    kept = text.quality_filter(
        docs, "text", min_chars=50, min_tokens=10, min_distinct_ratio=0.2
    )
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))


_MARKERS = [
    ("en", "order"), ("en", "window"), ("en", "batch"),
    ("es", "slow"), ("es", "agg"), ("es", "vector"),
    ("de", "customer"), ("de", "hash"),
    ("fr", "scan"), ("fr", "data"),
    ("zh", "join"), ("zh", "small"),
]


@query(
    "l10_language_id",
    sql=f"""
    WITH markers(lang, marker) AS (VALUES {", ".join(f"('{l}', '{m}')" for l, m in _MARKERS)}),
    toks AS (
      SELECT doc_id, unnest(str_split(text, ' ')) AS marker FROM documents
    ), votes AS (
      SELECT t.doc_id, m.lang, COUNT(*) AS hits
      FROM toks t JOIN markers m USING (marker)
      GROUP BY t.doc_id, m.lang
    ), best AS (
      SELECT doc_id, lang AS lang_pred, hits FROM votes
      QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang) = 1
    )
    SELECT d.doc_id, COALESCE(b.lang_pred, 'und') AS lang_pred,
           COALESCE(b.hits, 0) AS hits
    FROM documents d LEFT JOIN best b USING (doc_id)
    """,
    tier="T3",
    survey="L-ext,H9,E1",
)
def l10_language_id(spark, sf_dir):
    """n-gram/marker-token language-ID heuristic (deterministic voting)."""
    docs = T(spark, sf_dir, "documents")
    markers = local_frame(spark, _MARKERS, "lang STRING, marker STRING")
    return text.language_id(docs, "doc_id", "text", markers)


@query(
    "l11_token_count",
    sql="""
    SELECT doc_id,
           CAST(array_length(regexp_extract_all(text,
                '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS INT) AS n_llm_tokens
    FROM documents WHERE doc_id <= 300
    """,
    tier="T3",
    survey="L-ext,H2",
)
def l11_token_count(spark, sf_dir):
    """BPE-ish token counting via portable regex classes."""
    docs = T(spark, sf_dir, "documents").where(F.col("doc_id") <= 300)
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"))
        .cast("int")
        .alias("n_llm_tokens"),
    )


@query(
    "l12_fingerprint",
    # Full value oracle for the winnowing pipeline on the md5-derived
    # hash family: 5-shingle hashes -> sliding-window-of-4 minima ->
    # distinct. Checked columns include min/max fingerprint VALUES, so a
    # wrong hash, window, or dedup all mismatch (not just the count).
    sql="""
    WITH tk AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
    hs AS (
      SELECT doc_id, list_transform(
        generate_series(0, greatest(len(t) - 5, 0)),
        i -> CAST(CAST(concat('0x', substr(
               md5(array_to_string(t[i+1:i+5], ' ')), 1, 8)) AS UBIGINT)
             AS BIGINT)) AS h
      FROM tk
    ),
    mins AS (
      SELECT doc_id, list_distinct(list_transform(
        generate_series(0, greatest(len(h) - 4, 0)),
        j -> list_min(h[j+1:j+4]))) AS fp
      FROM hs
    )
    SELECT doc_id, len(fp) AS fp_size,
           list_min(fp) AS fp_min, list_max(fp) AS fp_max
    FROM mins
    """,
    tier="T3",
    survey="L-ext,H6,H8",
)
def l12_fingerprint(spark, sf_dir):
    """Winnowing fingerprints (k-shingle rolling min-hash, window 4) on
    the md5-derived hash family, so the DuckDB oracle reproduces every
    fingerprint value (promoted from rows-only). The production
    xxhash64 family stays under
    tests/test_operators.py."""
    docs = T(spark, sf_dir, "documents")
    fp = text.fingerprint_winnow(docs, "doc_id", "text", hash_fn=_md5_int32)
    return fp.select(
        "doc_id",
        F.size("fingerprint").alias("fp_size"),
        F.array_min("fingerprint").alias("fp_min"),
        F.array_max("fingerprint").alias("fp_max"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing + embedding stub
# ---------------------------------------------------------------------------


@query(
    "l8_multimodal_features",
    # Promoted from rows-only (r4): the deterministic feature stub is
    # md5-byte arithmetic (d[i % 16] / 255), so the oracle reproduces the
    # first component exactly. (text is ASCII in the fixtures, so
    # strlen == payload byte length.)
    sql="""
    SELECT doc_id AS asset_id,
           CAST(16 AS INT) AS feat_dim,
           ROUND(CAST(CAST(CAST(CAST(concat('0x', substr(md5(text), 1, 2))
                      AS INT) AS DOUBLE) / 255.0 AS FLOAT) AS DOUBLE), 6)
             AS f0,
           strlen(text) AS n_bytes
    FROM documents
    """,
    tier="T3",
    survey="L8,J4,H6",
)
def l8_multimodal_features(spark, sf_dir):
    """Binary-payload plumbing: wrap text as binary assets, extract
    deterministic md5-derived stub features via mapInPandas (the real
    decode paths are l8b..l8j), reduce. Oracle-checked: the stub is
    md5-byte arithmetic, so a broken binary cast, Arrow batch, or UDF
    schema all mismatch on values, not just shape."""
    docs = T(spark, sf_dir, "documents")
    assets = multimodal.to_multimodal(docs, "doc_id", "text", "text/plain")
    feats = multimodal.extract_features(assets)
    return feats.select(
        "asset_id",
        F.size("features").alias("feat_dim"),
        F.round(F.element_at("features", 1).cast("double"), 6).alias("f0"),
        "n_bytes",
    )


@query(
    "l8b_image_decode",
    sql="""
    SELECT doc_id,
           CAST(4 + doc_id % 5 AS INT) AS width,
           CAST(3 + doc_id % 3 AS INT) AS height,
           ROUND(CAST(doc_id % 256 AS DOUBLE), 6) AS mean_r,
           ROUND(CAST((2 * doc_id) % 256 AS DOUBLE), 6) AS mean_g,
           ROUND(CAST((3 * doc_id) % 256 AS DOUBLE), 6) AS mean_b
    FROM documents WHERE doc_id < 40
    """,
    tier="T3",
    survey="L8,J4",
)
def l8b_image_decode(spark, sf_dir):
    """REAL image decode, oracle-checked: build a deterministic solid-color
    PPM per doc_id (width/height/color are closed-form functions of the
    key), decode it with the pure-Python P6 parser inside mapInPandas, and
    emit the measured features. The oracle computes the same features
    symbolically — a broken parser (header, raster layout, channel order)
    mismatches. Encode and decode run in separate mapInPandas stages, so
    real bytes cross the Arrow boundary both ways."""
    import numpy as np
    import pandas as pd

    docs = T(spark, sf_dir, "documents").where(F.col("doc_id") < 40).select("doc_id")

    def encode(batches):
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                w, h = 4 + int(d) % 5, 3 + int(d) % 3
                px = np.full((h, w, 3), 0, dtype=np.uint8)
                px[:, :, 0] = d % 256
                px[:, :, 1] = (2 * d) % 256
                px[:, :, 2] = (3 * d) % 256
                rows.append((int(d), multimodal.encode_ppm(px)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    encoded = docs.mapInPandas(encode, "doc_id long, payload binary")
    assets = multimodal.to_multimodal(encoded, "doc_id", "payload", "image/x-portable-pixmap")
    return multimodal.image_features(assets).select(
        F.col("asset_id").alias("doc_id"),
        "width", "height", "mean_r", "mean_g", "mean_b",
    )


@query(
    "l8c_audio_decode",
    sql="""
    SELECT doc_id,
           CAST(8000 AS INT) AS sample_rate,
           ROUND(CAST(8000 + doc_id * 100 AS DOUBLE) / 8000, 6) AS duration_s,
           ROUND(CAST(8 + doc_id AS DOUBLE) / 64, 6) AS mean_abs,
           ROUND(CAST(8 + doc_id AS DOUBLE) / 64, 6) AS rms
    FROM documents WHERE doc_id < 40
    """,
    tier="T3",
    survey="L8,J4",
)
def l8c_audio_decode(spark, sf_dir):
    """REAL audio decode, oracle-checked: per doc_id, a 16-bit PCM WAV
    square wave with amplitude (8+doc_id)/64 (exactly representable in
    int16 AND in ≤6 decimal digits, so quantization and ROUND are both
    exact) and 8000 + 100*doc_id frames at 8 kHz. The decoder's measured
    duration/mean_abs/rms must equal the oracle's closed forms."""
    import numpy as np
    import pandas as pd

    docs = T(spark, sf_dir, "documents").where(F.col("doc_id") < 40).select("doc_id")

    def encode(batches):
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                n = 8000 + 100 * int(d)
                amp = (8 + int(d)) / 64.0
                samples = amp * np.where(np.arange(n) % 2 == 0, 1.0, -1.0)
                rows.append((int(d), multimodal.encode_wav(samples, 8000)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    encoded = docs.mapInPandas(encode, "doc_id long, payload binary")
    assets = multimodal.to_multimodal(encoded, "doc_id", "payload", "audio/wav")
    return multimodal.audio_features(assets).select(
        F.col("asset_id").alias("doc_id"),
        "sample_rate", "duration_s", "mean_abs", "rms",
    )


@query(
    "l8d_frame_sample",
    # PROMOTED from rows-only: the whole chain —
    # concatenated-PPM demux, every-10th-frame sampling, re-decode,
    # per-frame features — is deterministic and closed-form. Doc d packs
    # n = 5 + d%20 frames of 2x2 solid fill (d+i)%256, so the sampled
    # frames are exactly idx in range(0, n, 10) with mean_r = d + idx
    # (< 256 for every fixture doc, so the mod never wraps).
    sql="""
    WITH f AS (
      SELECT doc_id,
             CAST(unnest(range(0, 5 + CAST(doc_id % 20 AS INT), 10)) AS INT)
               AS frame_idx
      FROM documents WHERE doc_id < 20
    )
    SELECT doc_id AS asset_id, frame_idx,
           CAST(2 AS INT) AS width, CAST(2 AS INT) AS height,
           CAST(doc_id + frame_idx AS DOUBLE) AS mean_r
    FROM f
    """,
    tier="T3",
    survey="L8,J4",
)
def l8d_frame_sample(spark, sf_dir):
    """REAL frame sampling over concatenated-PPM "video" payloads: every
    10th frame's bytes are sliced out and re-decoded through the real
    image-features path. Oracle-checked end to end: the sampled frame
    indices and the decoded per-frame means have closed forms on the
    solid-fill fixture (codec byte-level correctness is separately
    oracle-exact in l8b). frame_idx rides through image_features inside a
    composite asset key (asset_id*100 + idx; idx < 25) — no join, the
    pipeline stays one mapInPandas chain."""
    import numpy as np
    import pandas as pd

    docs = T(spark, sf_dir, "documents").where(F.col("doc_id") < 20).select("doc_id")

    def encode(batches):
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                n_frames = 5 + int(d) % 20
                frames = b"".join(
                    multimodal.encode_ppm(np.full((2, 2, 3), (int(d) + i) % 256, np.uint8))
                    for i in range(n_frames)
                )
                rows.append((int(d), frames))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    encoded = docs.mapInPandas(encode, "doc_id long, payload binary")
    assets = multimodal.to_multimodal(encoded, "doc_id", "payload", "video/x-ppm-frames")
    frames = multimodal.frame_extract(assets, every_n=10)
    feats = multimodal.image_features(
        frames.select(
            (F.col("asset_id") * 100 + F.col("frame_idx")).alias("asset_id"),
            F.col("frame").alias("content"),
        )
    )
    return feats.select(
        F.floor(F.col("asset_id") / 100).alias("asset_id"),
        (F.col("asset_id") % 100).cast("int").alias("frame_idx"),
        "width", "height", "mean_r",
    )


@query(
    "l8e_jpeg_decode",
    sql=None,  # JPEG is lossy — exactness asserted via tolerance flag + pytest
    tier="T3",
    survey="L8,J4",
)
def l8e_jpeg_decode(spark, sf_dir):
    """REAL baseline-JPEG decode (pure-Python Huffman + numpy IDCT,
    operators/imagecodec.py): each doc gets a deterministic smooth-gradient
    image encoded as JFIF (every 3rd doc with restart markers) AND as its
    lossless PPM twin; both decode through the same mapInPandas feature
    path and the query emits the per-channel mean absolute deviation of
    the JPEG decode vs the lossless twin plus a within_tol flag. Rows-only
    for the driver (lossy codec), exact dims + tolerance pinned in
    tests/test_multimodal.py."""
    import numpy as np
    import pandas as pd

    from oeem_etl_spark.operators import imagecodec

    docs = T(spark, sf_dir, "documents").where(F.col("doc_id") < 30).select("doc_id")

    def encode_both(batches):
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                h, w = 16 + 8 * (d % 3), 24 + 8 * (d % 2)
                yy, xx = np.mgrid[0:h, 0:w]
                px = np.stack(
                    [
                        (xx * 2 + d) % 256,
                        (yy * 3 + 2 * d) % 256,
                        (xx + yy + 3 * d) % 256,
                    ],
                    axis=2,
                ).astype(np.uint8)
                jpeg = imagecodec.encode_jpeg(
                    px, quality=90, restart_interval=2 if d % 3 == 0 else 0
                )
                rows.append((d, jpeg, multimodal.encode_ppm(px)))
            yield pd.DataFrame(rows, columns=["doc_id", "jpeg", "ppm"])

    encoded = docs.mapInPandas(
        encode_both, "doc_id long, jpeg binary, ppm binary"
    )
    jf = multimodal.image_features(
        multimodal.to_multimodal(encoded, "doc_id", "jpeg", "image/jpeg")
    ).select(
        F.col("asset_id").alias("doc_id"),
        "width",
        "height",
        F.col("mean_r").alias("jr"),
        F.col("mean_g").alias("jg"),
        F.col("mean_b").alias("jb"),
    )
    pf = multimodal.image_features(
        multimodal.to_multimodal(encoded, "doc_id", "ppm", "image/x-portable-pixmap")
    ).select(
        F.col("asset_id").alias("doc_id"),
        F.col("mean_r").alias("pr"),
        F.col("mean_g").alias("pg"),
        F.col("mean_b").alias("pb"),
    )
    dev = (
        F.abs(F.col("jr") - F.col("pr"))
        + F.abs(F.col("jg") - F.col("pg"))
        + F.abs(F.col("jb") - F.col("pb"))
    ) / 3.0
    return (
        jf.join(pf, "doc_id")
        .select(
            "doc_id",
            "width",
            "height",
            F.round(dev, 4).alias("mean_channel_dev"),
            (dev <= F.lit(2.0)).alias("within_tol"),
        )
        .orderBy("doc_id")
    )


@query(
    "l8f_png_decode",
    sql="""
    SELECT doc_id,
           CAST(5 + doc_id % 4 AS INT) AS width,
           CAST(4 + 2 * (doc_id % 3) AS INT) AS height,
           ROUND((CAST(doc_id % 256 AS DOUBLE) + CAST((doc_id * 7) % 256 AS DOUBLE)) / 2, 6) AS mean_r,
           ROUND((CAST((2 * doc_id) % 256 AS DOUBLE) + CAST((doc_id * 11) % 256 AS DOUBLE)) / 2, 6) AS mean_g,
           ROUND((CAST((3 * doc_id) % 256 AS DOUBLE) + CAST((doc_id * 13) % 256 AS DOUBLE)) / 2, 6) AS mean_b
    FROM documents WHERE doc_id < 40
    """,
    tier="T3",
    survey="L8,J4",
)
def l8f_png_decode(spark, sf_dir):
    """REAL PNG decode, oracle-checked (lossless: stdlib-zlib inflate +
    filter reconstruction, operators/imagecodec.py): each doc gets a
    two-tone RGBA PNG — top half color A = (d, 2d, 3d) mod 256, bottom
    half color B = (7d, 11d, 13d) mod 256, height forced even so each
    channel mean is exactly (A+B)/2 — decoded via the magic-sniffing
    image_features path (alpha dropped). The oracle computes the same
    means symbolically; a broken inflate, filter, or channel order
    mismatches."""
    import numpy as np
    import pandas as pd

    from oeem_etl_spark.operators import imagecodec

    docs = T(spark, sf_dir, "documents").where(F.col("doc_id") < 40).select("doc_id")

    def encode(batches):
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 5 + d % 4, 4 + 2 * (d % 3)
                px = np.zeros((h, w, 4), dtype=np.uint8)
                px[: h // 2, :, :3] = [d % 256, (2 * d) % 256, (3 * d) % 256]
                px[h // 2 :, :, :3] = [
                    (7 * d) % 256,
                    (11 * d) % 256,
                    (13 * d) % 256,
                ]
                px[:, :, 3] = 255
                rows.append((d, imagecodec.encode_png(px)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    encoded = docs.mapInPandas(encode, "doc_id long, payload binary")
    assets = multimodal.to_multimodal(encoded, "doc_id", "payload", "image/png")
    return multimodal.image_features(assets).select(
        F.col("asset_id").alias("doc_id"),
        "width", "height", "mean_r", "mean_g", "mean_b",
    )


@query(
    "l9_embed_batch",
    # Promoted from rows-only (r4): the stub embedding is md5-byte
    # arithmetic quantized to float32 (array<float> schema), and the
    # norm1 fold is a deterministic left-to-right double sum — both
    # reproducible in SQL. The float32 CAST matters: skipping it flips
    # 6th-decimal roundings.
    sql="""
    WITH feats AS (
      SELECT doc_id,
             list_transform(generate_series(1, 16), i ->
               CAST(CAST(CAST(CAST(concat('0x', substr(md5(text), 2*i - 1, 2))
                    AS INT) AS DOUBLE) / 255.0 AS FLOAT) AS DOUBLE)) AS f
      FROM documents
    )
    SELECT doc_id,
           ROUND(list_reduce(f, (a, x) -> a + x), 6) AS norm1
    FROM feats
    """,
    tier="T3",
    survey="L9,J2,H6",
)
def l9_embed_batch(spark, sf_dir):
    """Pluggable embedding stub: deterministic hash-projection features
    for text via the same Arrow-batched path a real model would use.
    Oracle-checked end to end (md5-byte features + ordered float sum) —
    swapping in a real encoder changes the feature fn, not the plumbing
    this match certifies."""
    docs = T(spark, sf_dir, "documents")
    assets = multimodal.to_multimodal(docs, "doc_id", "text", "text/plain")
    feats = multimodal.extract_features(assets)
    return feats.select(
        F.col("asset_id").alias("doc_id"),
        F.round(
            F.aggregate("features", F.lit(0.0), lambda a, v: a + v.cast("double")), 6
        ).alias("norm1"),
    )


@query(
    "l16_dot_threshold_pairs",
    sql="""
    SELECT q.vec_id AS q_id, e.vec_id, 
           ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 6) AS dot
    FROM embeddings e
    CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id <= 5) q
    WHERE list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) >= 0.28
    """,
    tier="T3",
    survey="L3,H8",
)
def l16_dot_threshold_pairs(spark, sf_dir):
    """Dot-product threshold retrieval with the Cauchy-Schwarz norm-bound
    pre-filter (SURVEY.md §4 stretch): vector math only on pairs whose
    norm product can reach the threshold."""
    emb = T(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return similarity.dot_threshold_pairs(emb, queries, tau=0.28)


@query(
    "l17_deterministic_split",
    sql="""
    SELECT split, COUNT(*) AS n, MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM (
      SELECT doc_id,
             CASE WHEN (ascii(substr(md5(CAST(doc_id AS VARCHAR)),1,1)) * 256
                        + ascii(substr(md5(CAST(doc_id AS VARCHAR)),2,1))) % 100 < 80 THEN 'train'
                  WHEN (ascii(substr(md5(CAST(doc_id AS VARCHAR)),1,1)) * 256
                        + ascii(substr(md5(CAST(doc_id AS VARCHAR)),2,1))) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ) GROUP BY split
    """,
    tier="T3",
    survey="L-ext,B8,H6",
)
def l17_deterministic_split(spark, sf_dir):
    """Stable train/val/test assignment from md5(key) ranges — the
    reproducible, engine-portable alternative to rand() sampling: the same
    doc lands in the same split on every run at any parallelism."""
    from oeem_etl_spark.operators.splits import deterministic_split

    docs = T(spark, sf_dir, "documents")
    out = deterministic_split(docs, "doc_id")
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@query(
    "l18_redact_pii",
    sql=None,  # oracle inlined below at registration time
    tier="T3",
    survey="L-ext,H2",
)
def l18_redact_pii(spark, sf_dir):
    """PII scrubbing over synthetic text with planted emails/SSNs/phones;
    regexes are POSIX-safe so both engines rewrite identically."""
    from oeem_etl_spark.operators.splits import redact_pii

    docs = T(spark, sf_dir, "documents").where(F.col("doc_id") <= 200)
    planted = docs.select(
        "doc_id",
        F.concat(
            F.lit("contact me at user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 415-555-0199 ssn 123-45-6789 :: "),
            F.substring("text", 1, 40),
        ).alias("text"),
    )
    return planted.select("doc_id", redact_pii("text").alias("clean"))


def _install_l18_oracle():
    from oeem_etl_spark.operators.splits import sql_redact_pii
    from oeem_etl_spark.plans import registry

    inner = (
        "concat('contact me at user', CAST(doc_id AS VARCHAR), "
        "'@example.com or 415-555-0199 ssn 123-45-6789 :: ', "
        "substr(text, 1, 40))"
    )
    q = registry._REGISTRY["l18_redact_pii"]
    registry._REGISTRY["l18_redact_pii"] = type(q)(
        name=q.name,
        fn=q.fn,
        sql=f"SELECT doc_id, {sql_redact_pii(inner)} AS clean FROM documents WHERE doc_id <= 200",
        tier=q.tier,
        survey=q.survey,
    )


_install_l18_oracle()


# md5-derived 16-bit integer from hex chars 1-2 of md5(s) — identical in
# Spark and DuckDB (ascii over hex chars), giving MinHash/SimHash variants
# a full VALUE-level oracle (the xxhash64 production path is engine-internal
# and rows-only; same algorithm, different hash family).
def _md5_int16(c):
    h = F.md5(c)
    return F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1))


def _sql_md5_int16(expr: str) -> str:
    return (
        f"(ascii(substr(md5({expr}),1,1)) * 256 + ascii(substr(md5({expr}),2,1)))"
    )


_L2D_PERMS = 8
_L2D_MINS = ", ".join(
    "MIN(" + _sql_md5_int16(f"concat('perm{p}:', tok)") + f") AS m{p}"
    for p in range(_L2D_PERMS)
)


@query(
    "l2d_minhash_oracle",
    sql=f"""
    WITH toks AS (
      SELECT doc_id, unnest(str_split(text, ' ')) AS tok
      FROM documents WHERE doc_id <= 150
    )
    SELECT doc_id, {_L2D_MINS}
    FROM toks GROUP BY doc_id
    """,
    tier="T3",
    survey="L2,H6",
)
def l2d_minhash_oracle(spark, sf_dir):
    """MinHash signatures with a FULL value oracle: 8 md5-derived
    permutations over unigram shingles, min-aggregated per document —
    cross-engine-verifiable proof of the MinHash construction itself."""
    docs = T(spark, sf_dir, "documents").where(F.col("doc_id") <= 150)
    ex = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    return ex.groupBy("doc_id").agg(
        *[
            F.min(_md5_int16(F.concat(F.lit(f"perm{p}:"), F.col("tok")))).alias(f"m{p}")
            for p in range(_L2D_PERMS)
        ]
    )


_L2E_BITS = 16


@query(
    "l2e_simhash_oracle",
    sql=f"""
    WITH toks AS (
      SELECT doc_id, unnest(str_split(text, ' ')) AS tok
      FROM documents WHERE doc_id <= 150
    ), bits AS (
      SELECT doc_id, {_sql_md5_int16("tok")} AS h FROM toks
    )
    SELECT doc_id,
           {", ".join(f"CAST(SUM(CASE WHEN (h // {1 << b}) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS b{b}" for b in range(_L2E_BITS))}
    FROM bits GROUP BY doc_id
    """,
    tier="T3",
    survey="L2,H6",
)
def l2e_simhash_oracle(spark, sf_dir):
    """SimHash bit-sums with a FULL value oracle: 16 md5-derived bit
    columns, ±1-summed per document (the signature is sign(b_i) — kept as
    raw sums so the oracle compares exact integers)."""
    docs = T(spark, sf_dir, "documents").where(F.col("doc_id") <= 150)
    ex = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    h = ex.select("doc_id", _md5_int16(F.col("tok")).alias("h"))
    return h.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when((F.col("h").bitwiseAND(F.lit(1 << b))) != 0, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(_L2E_BITS)
        ]
    )


@query(
    "l23_quantize_int8",
    sql="""
    SELECT vec_id,
           round(CASE WHEN m > 0 THEN 127.0 / m ELSE 0.0 END, 6) AS qscale_r,
           array_to_string(
             list_transform(e, x -> CAST(round(x * (CASE WHEN m > 0 THEN 127.0 / m
                                                         ELSE 0.0 END)) AS TINYINT)),
             ',') AS qvec
    FROM (
      SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS m
      FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings)
    )
    """,
    tier="T3",
    survey="L3,H8",
)
def l23_quantize_int8(spark, sf_dir):
    """Symmetric int8 quantization of the embedding corpus — 4× smaller
    candidate-generation data (the vector-search bytes story). Quantized
    values are exact integer arithmetic → fully oracle-checkable."""
    from oeem_etl_spark.operators.similarity import quantize_int8

    emb = T(spark, sf_dir, "embeddings")
    out = quantize_int8(emb, "vec_id", "embedding")
    # qvec flattened to CSV: the driver's pandas canonicalizer cannot
    # sort/hash array cells (the h19/d5 rule, tests/test_oracle.py gate).
    return out.select(
        "vec_id",
        F.round("qscale", 6).alias("qscale_r"),
        F.array_join(F.transform("qvec", lambda x: x.cast("string")), ",").alias(
            "qvec"
        ),
    )


@query(
    "l3d_int8_topk",
    # Promoted from rows-only (r4): int8 quantization is DETERMINISTIC
    # arithmetic — qscale = 127/max|x| and round-half-away are the same
    # IEEE ops in both engines, the dot is exact integer math — so the
    # whole approximate pipeline is value-reproducible even though it is
    # approximate RELATIVE TO the exact float operator (that recall gap
    # stays asserted in tests/test_operators.py).
    sql="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    m AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS mx
      FROM v
    ),
    q8 AS (
      SELECT vec_id,
             CASE WHEN mx > 0 THEN 127.0 / mx ELSE 0.0 END AS qscale,
             list_transform(
               v, x -> ROUND(x * CASE WHEN mx > 0 THEN 127.0 / mx
                                      ELSE 0.0 END)) AS qv
      FROM m
    ),
    scored AS (
      SELECT q.vec_id AS q_id, c.vec_id,
             CASE WHEN c.qscale > 0 AND q.qscale > 0
                  THEN list_dot_product(c.qv, q.qv) / (c.qscale * q.qscale)
                  ELSE 0.0 END AS qdot_raw
      FROM q8 c CROSS JOIN (SELECT * FROM q8 WHERE vec_id <= 5) q
    )
    SELECT q_id, vec_id, ROUND(qdot_raw, 6) AS qdot,
           CAST(row_number() OVER w AS INT) AS rnk
    FROM scored
    WINDOW w AS (PARTITION BY q_id ORDER BY qdot_raw DESC, vec_id)
    QUALIFY row_number() OVER w <= 10
    """,
    tier="T3",
    survey="L3,H8",
)
def l3d_int8_topk(spark, sf_dir):
    """Approximate top-k on int8-quantized vectors, fully oracle-checked:
    quantize (127/max|x| symmetric scalar), exact integer dot, de-scale,
    window top-10 with vec_id tie-break."""
    from oeem_etl_spark.operators.similarity import int8_topk

    emb = T(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return int8_topk(emb, queries, k=10)


@query(
    "l24_unigram_logprob",
    sql="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    freq AS (SELECT t, COUNT(*) AS tf FROM toks GROUP BY t),
    total AS (SELECT COUNT(*) AS n FROM toks)
    SELECT doc_id,
           ROUND(SUM(CAST(ROUND(ln(tf * 1.0 / n) * 1000000) AS BIGINT))
                 / COUNT(*) / 1000000.0, 6) AS mean_logprob,
           COUNT(*) AS n_tokens
    FROM toks JOIN freq USING (t), total
    GROUP BY doc_id
    """,
    tier="T3",
    survey="L7,H5,H9",
)
def l24_unigram_logprob(spark, sf_dir):
    """Perplexity-proxy quality score: mean unigram log-probability per
    document under the corpus distribution (micros-exact accumulation, so
    the float mean hash-matches across engines)."""
    docs = T(spark, sf_dir, "documents")
    return text.unigram_logprob_score(docs, "doc_id", "text")


@query(
    "l26_incremental_dedup",
    sql=r"""
    WITH seen AS (
      SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS digest
      FROM documents WHERE doc_id % 3 <> 0
    ),
    batch AS (
      SELECT doc_id, lang, source,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS digest
      FROM documents WHERE doc_id % 3 = 0
    ),
    kept AS (
      SELECT doc_id, lang, source, digest,
             row_number() OVER (PARTITION BY digest ORDER BY doc_id) AS rn
      FROM batch
    )
    SELECT doc_id, lang, source FROM kept
    WHERE rn = 1 AND digest NOT IN (SELECT digest FROM seen)
    """,
    tier="T3",
    survey="L1,C4",
)
def l26_incremental_dedup(spark, sf_dir):
    """Incremental (cross-snapshot) exact dedup: the new batch
    (doc_id % 3 == 0) dedups within itself and against the digest index of
    the accepted corpus (the other two thirds) — the production crawl-increment
    shape; only digests persist between snapshots, never text."""
    docs = T(spark, sf_dir, "documents")
    seen = dedup.digest_index(docs.where(F.col("doc_id") % 3 != 0), "text")
    batch = docs.where(F.col("doc_id") % 3 == 0)
    return dedup.incremental_dedup(batch, seen, "text", "doc_id").select(
        "doc_id", "lang", "source"
    )


@query(
    "l3e_topk_arrow",
    sql=_TOPK_SQL,
    tier="T3",
    survey="L3,J4",
)
def l3e_topk_arrow(spark, sf_dir):
    """Same exact top-10 as l3, via the Arrow/BLAS batched path with
    per-partition local top-k (the shuffle carries batches*k rows, not
    the full N*Q score matrix) — oracle-checked against the identical SQL."""
    emb = T(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    out = similarity.cosine_topk_arrow(emb, queries, k=10)
    return out.withColumn("rnk", F.col("rnk").cast("int"))


# ---------------------------------------------------------------------------
# Clustering / semantic-dedup family (operators/clustering.py)
# ---------------------------------------------------------------------------


def _kmeans_cte(k: int = 8, iters: int = 2, dim: int = 64, scale: int = 1000):
    """DuckDB oracle for fixed-point k-means: the Lloyd iterations unroll
    into CTEs (assignment a{i} from centroids c{i-1}; update c{i} keeps a
    cluster's previous centroid when it goes empty). All distances are
    exact int64 arithmetic on the same quantized grid the Spark operator
    uses, so assignment matches bit-for-bit. Returns (cte_sql, final) where
    ``final`` names the CTE holding (vec_id, cid) after ``iters`` updates."""
    parts = [
        f"""q AS (
      SELECT vec_id, list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS v
      FROM embeddings
    ),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v
      FROM q ORDER BY vec_id LIMIT {k}
    )"""
    ]
    for it in range(1, iters + 1):
        parts.append(
            f"""d{it} AS (
      SELECT q.vec_id, c.cid,
             list_sum(list_transform(generate_series(1, {dim}),
                      i -> (q.v[i] - c.v[i]) * (q.v[i] - c.v[i]))) AS dist
      FROM q CROSS JOIN c{it - 1} c
    ),
    a{it} AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d{it}
      ) WHERE rn = 1
    ),
    s{it} AS (
      SELECT a{it}.cid, p.pos,
             CAST(round(CAST(SUM(q.v[p.pos]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
      FROM a{it} JOIN q USING (vec_id)
      CROSS JOIN (SELECT unnest(generate_series(1, {dim})) AS pos) p
      GROUP BY a{it}.cid, p.pos
    ),
    n{it} AS (SELECT cid, list(cv ORDER BY pos) AS v FROM s{it} GROUP BY cid),
    c{it} AS (
      SELECT c{it - 1}.cid, COALESCE(n{it}.v, c{it - 1}.v) AS v
      FROM c{it - 1} LEFT JOIN n{it} USING (cid)
    )"""
        )
    final = f"""df AS (
      SELECT q.vec_id, c.cid,
             list_sum(list_transform(generate_series(1, {dim}),
                      i -> (q.v[i] - c.v[i]) * (q.v[i] - c.v[i]))) AS dist
      FROM q CROSS JOIN c{iters} c
    ),
    af AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM df
      ) WHERE rn = 1
    )"""
    parts.append(final)
    return "WITH " + ",\n    ".join(parts), "af"


_KMEANS_CTE, _KMEANS_FINAL = _kmeans_cte()


@query(
    "l28_kmeans_assign",
    sql=f"""
    {_KMEANS_CTE}
    SELECT vec_id, CAST(cid AS INT) AS cluster FROM {_KMEANS_FINAL}
    """,
    tier="T3",
    survey="L3,H8,D1",
)
def l28_kmeans_assign(spark, sf_dir):
    """Fixed-point k-means (k=8, 2 Lloyd updates) cluster assignment over
    the embeddings table — assignment is a pure map against literal
    centroids; each update is one map-combinable aggregation. The integer
    distance grid makes the full iteration oracle-checkable."""
    from oeem_etl_spark.operators import clustering

    emb = T(spark, sf_dir, "embeddings")
    return clustering.kmeans_assign(emb, "vec_id", "embedding", k=8, iters=2)


@query(
    "l29_semantic_dedup",
    sql=f"""
    {_KMEANS_CTE}
    SELECT CAST(x.cid AS INT) AS cluster,
           x.vec_id AS keep_id, y.vec_id AS drop_id,
           ROUND(list_cosine_similarity(CAST(ex.embedding AS DOUBLE[]),
                                        CAST(ey.embedding AS DOUBLE[])), 6) AS cos
    FROM {_KMEANS_FINAL} x JOIN {_KMEANS_FINAL} y
      ON x.cid = y.cid AND x.vec_id < y.vec_id
    JOIN embeddings ex ON ex.vec_id = x.vec_id
    JOIN embeddings ey ON ey.vec_id = y.vec_id
    WHERE ROUND(list_cosine_similarity(CAST(ex.embedding AS DOUBLE[]),
                                       CAST(ey.embedding AS DOUBLE[])), 6) >= 0.35
    """,
    tier="T3",
    survey="L2,L3,H8",
)
def l29_semantic_dedup(spark, sf_dir):
    """SemDeDup-style near-duplicate pairs: cosine search restricted to
    within k-means clusters (O(N²/k), not O(N²)); larger vec_id is the
    drop candidate. Fully oracle-checked including the clustering."""
    from oeem_etl_spark.operators import clustering

    emb = T(spark, sf_dir, "embeddings")
    return clustering.semantic_dedup_pairs(
        emb, "vec_id", "embedding", k=8, iters=2, threshold=0.35
    )


def _xxh64_long_cte(src: str, key: str) -> str:
    """DuckDB CTE chain reproducing Spark's ``xxhash64(<bigint col>)``
    bit-for-bit — kept for the l29b oracle's historical CTE names
    (final CTE ``x8``, hash column ``xxh``), now DELEGATING to the
    shared generator in plans/xxh64_sql.py so the tricky 64-bit
    wraparound arithmetic exists in exactly one place."""
    from oeem_etl_spark.plans import xxh64_sql

    return (
        xxh64_sql.xxh64_long_cte(src, key, prefix="xl")
        + ",\n    x8 AS (SELECT * EXCLUDE (xl_h, xl_u, xl_xxh),"
        + " xl_xxh AS xxh FROM xlf)"
    )


def _l29b_sql(max_sz: int = 64, dim: int = 64, threshold: float = 0.35) -> str:
    """Oracle for the bounded SemDeDup: unrolls kmeans_assign's
    max_cluster_size re-split EXACTLY — oversized clusters (n > max_sz)
    draw sub-seeds where pmod(xxhash64(vec_id), stride) = 0
    (stride = ceil(n / ceil(n / max_sz)), the same integer arithmetic),
    clusters with >= 2 drawn seeds split by exact-int argmin against the
    seed vectors (ties to the smallest seed rank by vec_id), ids densely
    renumber in cluster order, and the pair stage reruns l29's cosine
    join on the final ids. Every driver-collected value in the operator
    (sizes, strides, seed vectors, base offsets) is recomputed in SQL
    from the data, so the whole bounded pipeline is value-checked."""
    sq = (
        f"list_sum(list_transform(generate_series(1, {dim}),"
        f" i -> (q.v[i] - sc.v[i]) * (q.v[i] - sc.v[i])))"
    )
    return f"""
    {_KMEANS_CTE},
    qm AS MATERIALIZED (SELECT * FROM q),
    afm AS MATERIALIZED (SELECT * FROM af),
    sz AS MATERIALIZED (SELECT cid, COUNT(*) AS n FROM afm GROUP BY cid),
    ost AS (
      SELECT cid, (n + ((n + {max_sz} - 1) // {max_sz}) - 1)
                  // ((n + {max_sz} - 1) // {max_sz}) AS stride
      FROM sz WHERE n > {max_sz}
    ),
    cand AS (SELECT afm.vec_id, afm.cid, ost.stride
             FROM afm JOIN ost USING (cid)),
    {_xxh64_long_cte('cand', 'vec_id')},
    sd AS MATERIALIZED (
      SELECT vec_id, cid FROM x8
      WHERE ((xxh % stride) + stride) % stride = 0
    ),
    spl AS (SELECT cid, COUNT(*) AS nseed FROM sd GROUP BY cid
            HAVING COUNT(*) >= 2),
    sc AS MATERIALIZED (
      SELECT sd.cid,
             row_number() OVER (PARTITION BY sd.cid ORDER BY sd.vec_id) - 1
               AS sidx,
             q.v
      FROM sd JOIN spl USING (cid) JOIN qm q USING (vec_id)
    ),
    bs AS (
      SELECT cid,
             COALESCE(SUM(cnt) OVER (ORDER BY cid
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base
      FROM (SELECT sz.cid, COALESCE(spl.nseed, 1) AS cnt
            FROM sz LEFT JOIN spl USING (cid))
    ),
    subbest AS (
      SELECT vec_id, sidx FROM (
        SELECT a.vec_id, sc.sidx,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {sq}, sc.sidx) AS rn
        FROM afm a JOIN qm q USING (vec_id) JOIN sc ON sc.cid = a.cid
      ) WHERE rn = 1
    ),
    fin AS MATERIALIZED (
      -- the operator early-returns the RAW cluster ids when nothing
      -- splits (no oversized cluster, or none drew >= 2 seeds); dense
      -- renumbering only happens on the split path — mirror that.
      SELECT afm.vec_id,
             CAST(CASE WHEN (SELECT COUNT(*) FROM spl) = 0 THEN afm.cid
                  ELSE bs.base + COALESCE(sb.sidx, 0) END AS INT) AS cluster
      FROM afm JOIN bs USING (cid)
      LEFT JOIN subbest sb ON sb.vec_id = afm.vec_id
    )
    SELECT x.cluster,
           x.vec_id AS keep_id, y.vec_id AS drop_id,
           ROUND(list_cosine_similarity(CAST(ex.embedding AS DOUBLE[]),
                                        CAST(ey.embedding AS DOUBLE[])), 6)
             AS cos
    FROM fin x JOIN fin y
      ON x.cluster = y.cluster AND x.vec_id < y.vec_id
    JOIN embeddings ex ON ex.vec_id = x.vec_id
    JOIN embeddings ey ON ey.vec_id = y.vec_id
    WHERE ROUND(list_cosine_similarity(CAST(ex.embedding AS DOUBLE[]),
                                       CAST(ey.embedding AS DOUBLE[])), 6)
          >= {threshold}
    """


@query(
    "l29b_semantic_dedup_bounded",
    sql=_l29b_sql(),
    tier="T3",
    survey="L2,L3,H8",
)
def l29b_semantic_dedup_bounded(spark, sf_dir):
    """l29 with the skewed-cluster guard: clusters above 64
    members are locally re-split before pairing
    (clustering.kmeans_assign ``max_cluster_size``), bounding the O(n_c²)
    pair stage against a dominant cluster. At sf0.1 (2000×64-d) the guard
    costs ~2× wall-clock (two extra tiny driver jobs + ~90 vs 8 join keys
    — pure fixed cost at MB scale) while cutting candidate pairs ~4×; the
    crossover where the O(n_c²) cut dominates is exactly the multi-GB
    skewed-corpus regime the guard exists for.

    ORACLE-checked end to end: the hash-
    stride seed draw is deterministic — _l29b_sql reproduces Spark's
    xxhash64(bigint) in DuckDB CTEs (single-lane XXH64, seed 42, verified
    bit-for-bit) and unrolls the re-split + dense renumber + pair stage,
    so sizes, strides, seed vectors and base offsets are all recomputed
    from the data. The planted-fixture recall property stays asserted in
    tests/test_clustering.py."""
    from oeem_etl_spark.operators import clustering

    emb = T(spark, sf_dir, "embeddings")
    return clustering.semantic_dedup_pairs(
        emb, "vec_id", "embedding", k=8, iters=2, threshold=0.35,
        max_cluster_size=64,
    )


@query(
    "l30_span_dedup_stats",
    sql="""
    WITH t AS (
      SELECT doc_id, str_split(text, ' ') AS toks FROM documents
    ),
    e AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, len(toks) - 4),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                    || ' ' || toks[i+3] || ' ' || toks[i+4])) AS w
      FROM t WHERE len(toks) >= 5
    ),
    c AS (SELECT w, COUNT(*) AS cnt FROM e GROUP BY w)
    SELECT e.doc_id,
           COUNT(*) AS n_windows,
           COUNT(*) FILTER (WHERE c.cnt > 1) AS n_dup,
           ROUND(CAST(COUNT(*) FILTER (WHERE c.cnt > 1) AS DOUBLE)
                 / COUNT(*), 6) AS dup_frac
    FROM e JOIN c USING (w)
    GROUP BY e.doc_id
    """,
    tier="T3",
    survey="L1,L5,H9",
)
def l30_span_dedup_stats(spark, sf_dir):
    """Span-level duplication signal (Lee et al. substring-dedup statistic):
    per document, the count/fraction of its 5-token windows occurring more
    than once corpus-wide. Spark side shuffles xxhash64(window) 8-byte keys
    (never window text); counts match the oracle's string grouping under
    the standing no-collision assumption."""
    docs = T(spark, sf_dir, "documents")
    return corpus_ops.duplicated_window_stats(docs, "doc_id", "text", n=5)


@query(
    "l31_heavy_hitters",
    sql="""
    WITH tok AS (
      SELECT unnest(str_split(text, ' ')) AS token FROM documents
    )
    SELECT token, COUNT(*) AS n FROM tok
    GROUP BY token ORDER BY n DESC, token LIMIT 20
    """,
    tier="T3",
    survey="L5,D1,F3,H9",
)
def l31_heavy_hitters(spark, sf_dir):
    """Exact corpus-wide top-20 tokens (map-combinable count + single
    reduced top-k) — the verify twin of the CMS path in l31b."""
    from oeem_etl_spark.operators import sketch

    docs = T(spark, sf_dir, "documents")
    toks = docs.select(F.explode(text.tokenize("text")).alias("token"))
    return sketch.heavy_hitters_exact(toks, "token", k=20)


@query(
    "l31b_cms_estimates",
    # Full value oracle (promoted from rows-only this round): the DuckDB
    # side reproduces Spark's xxhash64 bit-for-bit (plans/xxh64_sql.py —
    # hashBytes over UTF-8 + chained hashInt of the INT row literal), so
    # the 4x1024 cell targets, the cell counts, and the min-estimates are
    # all value-checked, not just bounds-checked. Distinct tokens hash
    # once; occurrences join back (the ~40-stage hash chain runs per
    # VALUE, not per row).
    sql=f"""
    WITH tok AS (SELECT unnest(str_split(text, ' ')) AS token FROM documents),
    dt AS (SELECT DISTINCT token FROM tok),
    {xxh64_sql.cms_cells_cte('dt', 'token')},
    tb AS (SELECT token, r, bucket FROM cmtb),
    cx AS (SELECT t.token, tb.r, tb.bucket FROM tok t JOIN tb USING (token)),
    cms AS (SELECT r, bucket, COUNT(*) AS cnt FROM cx GROUP BY r, bucket),
    top AS (SELECT token FROM (
      SELECT token, COUNT(*) AS n FROM tok GROUP BY token
      ORDER BY n DESC, token LIMIT 20))
    SELECT token, MIN(cms.cnt) AS est
    FROM top JOIN tb USING (token) JOIN cms USING (r, bucket)
    GROUP BY token
    ORDER BY est DESC, token
    """,
    tier="T3",
    survey="D7,D8,L5",
)
def l31b_cms_estimates(spark, sf_dir):
    """Count-min-sketch estimated counts for the exact top-20 tokens:
    sketch built in one bounded-state pass (4x1024 cells), probes resolved
    by broadcast join against the cell frame. The CMS guarantee
    (exact <= est <= exact + eps*N) is additionally property-tested in
    tests/test_clustering.py."""
    from oeem_etl_spark.operators import sketch

    docs = T(spark, sf_dir, "documents")
    toks = docs.select(F.explode(text.tokenize("text")).alias("token"))
    cms = sketch.cms_build(toks, "token")
    probes = sketch.heavy_hitters_exact(toks, "token", k=20).select("token")
    est = sketch.cms_estimate(cms, probes, "token")
    return est.orderBy(F.col("est").desc(), F.col("token"))


@query(
    "l32_sparse_doc_similarity",
    sql="""
    WITH sub AS (SELECT doc_id, text FROM documents WHERE doc_id <= 80),
    tf AS (
      SELECT doc_id, tok AS term, COUNT(*) AS tf FROM (
        SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM sub
      ) GROUP BY doc_id, tok
    ),
    dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM sub),
    w AS (
      SELECT tf.doc_id, tf.term,
             CAST(round(ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 6)
                        * 1000) AS BIGINT) AS wm
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ),
    dots AS (
      SELECT a.doc_id AS key_a, b.doc_id AS key_b, SUM(a.wm * b.wm) AS dot
      FROM w a JOIN w b ON a.term = b.term AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT key_a, key_b,
           ROUND(CAST(dot AS DOUBLE) / 1000000.0, 6) AS score,
           CAST(row_number() OVER (PARTITION BY key_a ORDER BY dot DESC, key_b)
                AS INT) AS rnk
    FROM dots QUALIFY rnk <= 5
    """,
    tier="T3",
    survey="L6,L3,C1,E5",
)
def l32_sparse_doc_similarity(spark, sf_dir):
    """Sparse tf-idf document similarity via the inverted-index join
    (term-posting equi-join, fixed-point dot products) — the sparse
    retrieval twin of l3's dense cosine; cost scales with posting-list
    sizes, not docs². Bounded to doc_id<=80 for the oracle; max_df is the
    at-scale stopword prefix filter."""
    docs = T(spark, sf_dir, "documents").where(F.col("doc_id") <= 80)
    return similarity.sparse_tfidf_topk(docs, "doc_id", "text", k=5)


@query(
    "l36_hard_negatives",
    sql="""
    WITH q AS (SELECT vec_id AS q_id, label AS ql, embedding AS qvec
               FROM embeddings WHERE vec_id <= 5),
    scored AS (
      SELECT q.q_id, e.vec_id, e.label AS neg_label,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          CAST(q.qvec AS DOUBLE[])), 6) AS score
      FROM embeddings e CROSS JOIN q
      WHERE e.label <> q.ql
    )
    SELECT q_id, vec_id, neg_label, score,
           CAST(row_number() OVER (PARTITION BY q_id
                                   ORDER BY score DESC, vec_id) AS INT) AS rnk
    FROM scored
    QUALIFY rnk <= 10
    """,
    tier="T3",
    survey="L3,L4,E5",
)
def l36_hard_negatives(spark, sf_dir):
    """Hard-negative mining: per query vector, the 10 most-similar vectors
    of a DIFFERENT label (contrastive-training negatives). Labels ride the
    same broadcast/projection as the vectors — no extra join."""
    emb = T(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("q_id"), "label", "embedding"
    )
    out = similarity.hard_negatives(emb, queries, k=10)
    return out.withColumn("rnk", F.col("rnk").cast("int"))


@query(
    "l41_knn_label_canon",
    sql=f"""
    WITH topk AS ({_TOPK_SQL}),
    votes AS (
      SELECT t.q_id, e.label, COUNT(*) AS votes
      FROM topk t JOIN embeddings e USING (vec_id)
      GROUP BY t.q_id, e.label
    ),
    preds AS (
      SELECT q_id, label AS predicted, votes FROM votes
      QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, label) = 1
    )
    SELECT p.q_id,
           c.canonical AS canonical_label,
           levenshtein('cls_' || CAST(p.predicted AS VARCHAR), c.canonical)
             AS edit_dist,
           p.votes
    FROM preds p
    JOIN (SELECT 'class_' || CAST(unnest(range(0, 10)) AS VARCHAR) AS canonical) c
      ON levenshtein('cls_' || CAST(p.predicted AS VARCHAR), c.canonical) <= 2
    """,
    tier="T3",
    survey="L4,H3",
)
def l41_knn_label_canon(spark, sf_dir):
    """Fused curation pipeline: L4 kNN majority-vote classification of the
    query vectors, whose predicted labels arrive in a NOISY external
    vocabulary ('cls_3'), then H3 fuzzy vocabulary normalization — a
    levenshtein(<=2) join against the canonical label table ('class_3').
    The canonical table is 10 rows, so the fuzzy theta-join is a broadcast
    nested loop over the handful of predictions — the label-vocab
    reconciliation step every multi-source labeling pipeline needs.
    Threshold 2 is exact for this vocabulary: the true canonical is
    distance 2 (one insert + one insert), every wrong digit is >= 3."""
    emb = T(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    preds = similarity.knn_classify(emb, queries_df, k=10).select(
        "q_id",
        F.concat(F.lit("cls_"), F.col("predicted").cast("string")).alias("noisy"),
        "votes",
    )
    canon = spark.range(0, 10).select(
        F.concat(F.lit("class_"), F.col("id").cast("string")).alias("canonical")
    )
    joined = preds.join(
        F.broadcast(canon),
        F.levenshtein(F.col("noisy"), F.col("canonical")) <= 2,
    )
    return joined.select(
        "q_id",
        F.col("canonical").alias("canonical_label"),
        F.levenshtein(F.col("noisy"), F.col("canonical")).alias("edit_dist"),
        "votes",
    )


@query(
    "l8g_gif_frames",
    sql="""
    SELECT doc_id,
           CAST(f AS INT) AS frame_idx,
           CAST(8 AS INT) AS width,
           CAST(6 AS INT) AS height,
           ROUND(CAST(17 * ((doc_id + f) % 16) AS DOUBLE), 6) AS mean_r
    FROM documents, LATERAL unnest(range(0, 3 + doc_id % 5, 2)) AS t(f)
    WHERE doc_id < 30
    """,
    tier="T3",
    survey="L8,J4",
)
def l8g_gif_frames(spark, sf_dir):
    """REAL animated-container demux, oracle-EXACT end to end: each doc
    gets an animated GIF (3 + doc_id%5 full frames, frame i solid
    palette index (doc_id+i)%16 over a 17-step gray ramp — GIF's LZW is
    lossless, so unlike JPEG the decoded pixels are bit-exact).
    frame_extract sniffs the GIF magic, LZW-decodes and composites every
    frame, samples every 2nd one, re-encodes each as standalone PPM, and
    image_features measures them — the oracle computes the same
    (frame_idx, dims, mean) lattice symbolically. A wrong LZW table
    reset, compositing bug, or off-by-one in frame sampling mismatches."""
    import numpy as np
    import pandas as pd

    from oeem_etl_spark.operators import imagecodec

    docs = T(spark, sf_dir, "documents").where(F.col("doc_id") < 30).select("doc_id")

    def encode(batches):
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                frames = [
                    np.full((6, 8), (d + i) % 16, np.uint8)
                    for i in range(3 + d % 5)
                ]
                rows.append((d, imagecodec.encode_gif(frames)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    encoded = docs.mapInPandas(encode, "doc_id long, payload binary")
    assets = multimodal.to_multimodal(encoded, "doc_id", "payload", "image/gif")
    frames = multimodal.frame_extract(assets, every_n=2)
    feats = multimodal.image_features(
        frames.select("asset_id", "frame_idx", F.col("frame").alias("content"))
        .withColumnRenamed("asset_id", "gif_id")
        .withColumn("asset_id", F.col("gif_id") * 1000 + F.col("frame_idx"))
    )
    return feats.select(
        (F.col("asset_id") / 1000).cast("long").alias("doc_id"),
        F.pmod("asset_id", F.lit(1000)).cast("int").alias("frame_idx"),
        "width", "height", "mean_r",
    )


@query("l43_pca_project", sql=None, tier="T3", survey="L3,J4,H8")
def l43_pca_project(spark, sf_dir):
    """Distributed PCA (operators/decomp.py): one mapInPandas moment pass
    reduces the corpus to (n, Σx, XᵀX) partials, driver eigh on the d×d
    covariance, then a pure-JVM projection (nested-literal component
    matrix, k dot products per row). Rows-only: eigensolvers aren't
    SQL-expressible; orthonormality / variance-capture / reconstruction
    properties are asserted in tests/test_clustering.py."""
    from oeem_etl_spark.operators.decomp import pca_fit, pca_transform

    emb = T(spark, sf_dir, "embeddings")
    model = pca_fit(emb, "embedding", k=8)
    out = pca_transform(emb, "embedding", model)
    return out.select(
        "vec_id",
        F.round(F.element_at("proj", 1), 4).alias("p1"),
        F.round(F.element_at("proj", 2), 4).alias("p2"),
        F.round(F.element_at("proj", 3), 4).alias("p3"),
    )


def _l43b_sql(dim: int = 64, iters: int = 8, v_scale: int = 1_000_000) -> str:
    """Oracle for the fixed-point power-iteration PCA twin: integer
    moments (n, S, G) by plain SUMs (order-independent), scaled
    covariance n·G − S·Sᵀ, then ``iters`` unrolled matrix-vector rounds
    each renormalized to max|v| = v_scale by sign-split integer
    division — floor == truncate on the non-negative magnitudes, so
    DuckDB ``//`` matches Python ``//`` exactly. HUGEINT carries the
    w accumulators (≤ ~2.6e20 at fixture scale)."""
    rounds = []
    prev = "v0"
    for k in range(1, iters + 1):
        rounds.append(
            f"""w{k} AS (
      SELECT c.i, SUM(c.cv * {prev}.v) AS w
      FROM c JOIN {prev} ON {prev}.i = c.j GROUP BY c.i
    ),
    m{k} AS (SELECT MAX(ABS(w)) AS m FROM w{k}),
    v{k} AS (
      SELECT i, CASE WHEN w < 0 THEN -((-w) * {v_scale} // m)
                     ELSE w * {v_scale} // m END AS v
      FROM w{k}, m{k}
    )"""
        )
        prev = f"v{k}"
    return f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, s.i,
             CAST(round(CAST(embedding[s.i] AS DOUBLE) * 1000) AS BIGINT) AS x
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, {dim})) AS i) s
    ),
    nn AS (SELECT COUNT(*) AS n FROM embeddings),
    sv AS MATERIALIZED (SELECT i, SUM(x) AS s FROM e GROUP BY i),
    gm AS MATERIALIZED (
      SELECT a.i AS i, b.i AS j, SUM(a.x * b.x) AS g
      FROM e a JOIN e b USING (vec_id) GROUP BY a.i, b.i
    ),
    c AS MATERIALIZED (
      SELECT gm.i, gm.j,
             CAST(nn.n AS HUGEINT) * gm.g
               - CAST(sa.s AS HUGEINT) * sb.s AS cv
      FROM gm, nn
      JOIN sv sa ON sa.i = gm.i
      JOIN sv sb ON sb.i = gm.j
    ),
    v0 AS (SELECT unnest(generate_series(1, {dim})) AS i,
                  CAST({v_scale} AS HUGEINT) AS v),
    {','.join(rounds)}
    SELECT e.vec_id, CAST(SUM(e.x * v{iters}.v) AS BIGINT) AS p1
    FROM e JOIN v{iters} ON v{iters}.i = e.i
    GROUP BY e.vec_id
    ORDER BY e.vec_id
    """


@query(
    "l43b_pca_power_fixed",
    sql=_l43b_sql(),
    tier="T3",
    survey="L3,J4,H8",
)
def l43b_pca_power_fixed(spark, sf_dir):
    """Fixed-point power-iteration PCA — the oracle-checked twin of l43
    (the l45b playbook): one exact-integer moment pass
    (mapInPandas int64 partials — integer sums are shuffle-order-
    independent), 8 driver-side power-iteration rounds on the integer
    scaled covariance with integer renormalization, and a JVM-literal
    projection. The DuckDB oracle unrolls the moments AND all 8 rounds,
    so the whole iterative-linalg path is value-checked end to end;
    l43's eigh-based operator stays rows-only for the true eigensolver."""
    from oeem_etl_spark.operators.decomp import pca_power_fixed

    emb = T(spark, sf_dir, "embeddings")
    _v, out = pca_power_fixed(emb, "embedding", dim=64, iters=8)
    return out.select("vec_id", "p1").orderBy("vec_id")


@query(
    "l44_repetition_signals",
    sql="""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), tok AS (
      SELECT doc_id, unnest(t) AS tok FROM d
    ), tc AS (
      SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok
    ), dup AS (
      SELECT doc_id,
             CAST(COALESCE(SUM(c) FILTER (WHERE c > 1), 0) AS BIGINT) AS dup_toks,
             SUM(c) AS n_toks
      FROM tc GROUP BY doc_id
    ), bg AS (
      SELECT doc_id, t[i] || ' ' || t[i + 1] AS bigram
      FROM d, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) s
      WHERE len(t) >= 2
    ), bc AS (
      SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY doc_id, bigram
    ), bstat AS (
      SELECT doc_id, MAX(c) AS max_c, SUM(c) AS n_bg FROM bc GROUP BY doc_id
    )
    SELECT dup.doc_id,
           ROUND(dup.dup_toks / dup.n_toks, 6) AS dup_token_frac,
           ROUND(bstat.max_c / bstat.n_bg, 6) AS top_bigram_frac
    FROM dup LEFT JOIN bstat USING (doc_id)
    """,
    tier="T2",
    survey="L7,L5,H9",
)
def l44_repetition_signals(spark, sf_dir):
    """Token-repetition quality signals per document (the Gopher rules'
    repetition family): duplicate-token-type fraction and top-bigram
    dominance — operators/text.repetition_signals, exact count ratios."""
    docs = T(spark, sf_dir, "documents")
    return text.repetition_signals(docs, "doc_id", "text")


def _phash_fixture_ids(spark, sf_dir):
    """32 planted-twin image ids: doc 0..15 plus a +1000 twin each."""
    base = T(spark, sf_dir, "documents").where(F.col("doc_id") < 16).select("doc_id")
    return base.unionAll(base.select((F.col("doc_id") + 1000).alias("doc_id")))


def _phash_fixture_encode(batches):
    """Deterministic 48x48 gradient PPM per doc_id; twins (id >= 1000)
    carry a one-pixel +16 perturbation in the red channel at (3, 3).
    Shared by l45 (float pHash, rows-only) and l45b (fixed-point twin,
    oracle-checked) so both hash the byte-identical corpus."""
    import numpy as np
    import pandas as pd

    def gradient(seed, h=48, w=48):
        y = np.arange(h)[:, None]
        x = np.arange(w)[None, :]
        g = ((seed * 37) % 200 + (y * 255) // h + (x * 128) // w) % 256
        return np.stack([g, (g * 2) % 256, (g * 3) % 256], axis=2).astype(np.uint8)

    for pdf in batches:
        rows = []
        for d in pdf["doc_id"]:
            d = int(d)
            px = gradient(d % 1000)
            if d >= 1000:
                px = px.copy()
                px[3, 3, 0] = (int(px[3, 3, 0]) + 16) % 256
            rows.append((d, multimodal.encode_ppm(px)))
        yield pd.DataFrame(rows, columns=["doc_id", "payload"])


@query("l45_image_phash_dedup", sql=None, tier="T3", survey="L8,L2,J4")
def l45_image_phash_dedup(spark, sf_dir):
    """Image near-dup detection: decode → perceptual DCT hash
    (multimodal.phash64, SimHash two-half layout) → the SAME 16-bit-band
    candidate join text SimHash uses — one signature family across
    modalities. Planted-twin corpus (doc i and i+1000 share a gradient,
    the twin carries a one-pixel perturbation); the pipeline reports the
    twin pairs with their Hamming distances. Rows-only (the float-DCT
    production hash); the hashing chain itself is oracle-value-checked by
    the fixed-point twin l45b, and planted-recovery is asserted in
    tests/test_multimodal.py."""
    from oeem_etl_spark.operators import dedup

    ids = _phash_fixture_ids(spark, sf_dir)
    encoded = ids.mapInPandas(_phash_fixture_encode, "doc_id long, payload binary")
    assets = multimodal.to_multimodal(
        encoded, "doc_id", "payload", "image/x-portable-pixmap"
    )
    hashed = multimodal.image_phash(
        assets.withColumnRenamed("asset_id", "doc_id"), key="doc_id"
    )
    return dedup.simhash_near_pairs(hashed, "doc_id", max_hamming=6).orderBy(
        "key_a", "key_b"
    )


@query(
    "l45b_phash_fixed_oracle",
    # The oracle recomputes the ENTIRE fixed-point pHash in SQL over the
    # closed-form fixture: gray = channel sum of the 48x48 gradient
    # ((seed*37)%200 + (y*255)//48 + (x*128)//48, channels g/(2g)%256/
    # (3g)%256; twins perturb red at (3,3) by +16), floor-grid 32x32
    # resample y=(3i)//2, integer DCT via the quantized cos table
    # C[u,i] = round(cos(pi(2i+1)u/64)*1e4) in two int64 matmul stages,
    # order-statistic median (32nd smallest of 63 non-DC coefs), bit i
    # (u*8+v) set iff coef > median — every step exact integer arithmetic,
    # byte-identical across engines.
    sql="""
    WITH ids AS (
      SELECT doc_id FROM documents WHERE doc_id < 16
      UNION ALL
      SELECT doc_id + 1000 FROM documents WHERE doc_id < 16
    ),
    grid AS (SELECT CAST(r.range AS BIGINT) AS i FROM range(32) r),
    pix AS (
      SELECT d.doc_id, gi.i, gj.i AS j,
             (3 * gi.i) // 2 AS y, (3 * gj.i) // 2 AS x
      FROM ids d CROSS JOIN grid gi CROSS JOIN grid gj
    ),
    gray AS (
      SELECT doc_id, i, j,
             ((doc_id % 1000) * 37 % 200 + (y * 255) // 48 + (x * 128) // 48)
               % 256 AS g,
             (doc_id >= 1000 AND y = 3 AND x = 3) AS perturbed
      FROM pix
    ),
    s AS (
      SELECT doc_id, i, j,
             (CASE WHEN perturbed THEN (g + 16) % 256 ELSE g END)
               + (g * 2) % 256 + (g * 3) % 256 AS v
      FROM gray
    ),
    ctab AS (
      SELECT CAST(u.range AS BIGINT) AS u, CAST(i.range AS BIGINT) AS i,
             CAST(round(cos(pi() * (2 * i.range + 1) * u.range / 64) * 10000)
                  AS BIGINT) AS c
      FROM range(8) u CROSS JOIN range(32) i
    ),
    t AS (
      SELECT s.doc_id, ctab.u, s.j, SUM(ctab.c * s.v) AS tv
      FROM s JOIN ctab ON ctab.i = s.i
      GROUP BY s.doc_id, ctab.u, s.j
    ),
    dmat AS (
      SELECT t.doc_id, t.u, ctab.u AS v, SUM(ctab.c * t.tv) AS coef
      FROM t JOIN ctab ON ctab.i = t.j
      GROUP BY t.doc_id, t.u, ctab.u
    ),
    idxd AS (
      SELECT doc_id, u * 8 + v AS idx, coef FROM dmat
    ),
    med AS (
      SELECT doc_id, coef AS m
      FROM (
        SELECT doc_id, coef,
               row_number() OVER (PARTITION BY doc_id ORDER BY coef) AS rn
        FROM idxd WHERE idx > 0
      ) WHERE rn = 32
    ),
    bits AS (
      SELECT i.doc_id,
             SUM(CASE WHEN i.coef > med.m AND i.idx < 32
                      THEN (CAST(1 AS BIGINT) << CAST(i.idx AS INT))
                      ELSE 0 END) AS simhash_lo,
             SUM(CASE WHEN i.coef > med.m AND i.idx >= 32
                      THEN (CAST(1 AS BIGINT) << CAST(i.idx - 32 AS INT))
                      ELSE 0 END) AS simhash_hi
      FROM idxd i JOIN med ON med.doc_id = i.doc_id
      GROUP BY i.doc_id
    )
    SELECT doc_id, CAST(simhash_lo AS BIGINT) AS simhash_lo,
           CAST(simhash_hi AS BIGINT) AS simhash_hi
    FROM bits ORDER BY doc_id
    """,
    tier="T3",
    survey="L8,L2,J4",
)
def l45b_phash_fixed_oracle(spark, sf_dir):
    """l45's hashing chain made value-checkable (the l2d/l2e
    quantized-twin playbook): the SAME byte-identical planted-twin
    corpus (shared fixture generator) decoded through the real PPM path,
    hashed with multimodal.phash64_fixed — the all-integer DCT pHash —
    and the 64-bit signatures themselves compared against a DuckDB oracle
    that recomputes grayscale, resample, integer DCT, order-statistic
    median and bit assembly declaratively. Certifies decode + hash
    end to end; l45's banded near-pair join on these signatures stays
    covered by its planted-recovery test."""
    import pandas as pd

    ids = _phash_fixture_ids(spark, sf_dir)
    encoded = ids.mapInPandas(_phash_fixture_encode, "doc_id long, payload binary")

    def run(batches):
        for pdf in batches:
            rows = []
            for d, payload in zip(pdf["doc_id"], pdf["payload"]):
                _w, _h, px = multimodal.decode_image(bytes(payload))
                lo, hi = multimodal.phash64_fixed(px)
                rows.append((int(d), lo, hi))
            yield pd.DataFrame(rows, columns=["doc_id", "simhash_lo", "simhash_hi"])

    return encoded.mapInPandas(
        run, "doc_id long, simhash_lo long, simhash_hi long"
    ).orderBy("doc_id")


@query("l46_pca_rerank_topk", sql=None, tier="T3", survey="L3,J4,E5")
def l46_pca_rerank_topk(spark, sf_dir):
    """Two-stage retrieval (the production ANN recipe): PCA-reduce the
    corpus (operators/decomp, uncentered projection — preserves dot
    products), run cheap top-25 candidate search in the reduced space,
    then re-rank ONLY the candidates with exact full-dimension cosine.
    The reduction ratio is spectrum-dependent: the fixture embeddings
    are near-isotropic (16 dims hold only 38% of variance), so 64→32
    is the honest setting here; real text/image embeddings decay much
    faster and take 4-8× reductions at the same recall. Rows-only
    (eigensolver); recall vs exact top-k asserted ≥0.9 in
    tests/test_clustering.py."""
    from oeem_etl_spark.operators import similarity
    from oeem_etl_spark.operators.decomp import pca_fit, pca_transform

    emb = T(spark, sf_dir, "embeddings")
    model = pca_fit(emb, "embedding", k=32)
    red = pca_transform(emb, "embedding", model, out_col="proj", center=False).select(
        "vec_id", F.col("proj").cast("array<float>").alias("embedding")
    )
    queries_red = red.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    # stage 1: top-25 candidates in the reduced space
    cand = similarity.cosine_topk(red, queries_red, k=25).select(
        "q_id", "vec_id"
    )
    # stage 2: exact re-rank of candidates in the original 64-dim space
    full = emb.select("vec_id", "embedding")
    cand_vecs = cand.join(full, "vec_id")
    queries_full = full.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    from oeem_etl_spark.functions.vector import cosine

    from pyspark.sql import Window

    scored = cand_vecs.join(queries_full, "q_id").select(
        "q_id",
        "vec_id",
        F.round(cosine("embedding", "q_vec"), 6).alias("score"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("q_id", "vec_id", "score", "rnk")
    )


@query(
    "l8h_webp_decode",
    sql="""
    SELECT doc_id,
           CAST(4 + doc_id % 5 AS INT) AS width,
           CAST(3 + doc_id % 3 AS INT) AS height,
           ROUND(CAST(doc_id % 256 AS DOUBLE), 6) AS mean_r,
           ROUND(CAST((2 * doc_id) % 256 AS DOUBLE), 6) AS mean_g,
           ROUND(CAST((3 * doc_id) % 256 AS DOUBLE), 6) AS mean_b
    FROM documents WHERE doc_id < 40
    """,
    tier="T3",
    survey="L8,J4",
)
def l8h_webp_decode(spark, sf_dir):
    """REAL lossless-WebP decode, oracle-checked (the l8b recipe on the
    VP8L codec): deterministic solid-color WebP per doc_id, encoded and
    decoded by operators/webpcodec inside mapInPandas, features checked
    symbolically by the oracle — prefix-code machinery, bit packing and
    RIFF framing all on the hot path."""
    import numpy as np
    import pandas as pd

    from oeem_etl_spark.operators.webpcodec import encode_webp_lossless

    docs = T(spark, sf_dir, "documents").where(F.col("doc_id") < 40).select("doc_id")

    def encode(batches):
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                w, h = 4 + int(d) % 5, 3 + int(d) % 3
                px = np.zeros((h, w, 3), dtype=np.uint8)
                px[:, :, 0] = d % 256
                px[:, :, 1] = (2 * d) % 256
                px[:, :, 2] = (3 * d) % 256
                rows.append((int(d), encode_webp_lossless(px)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    encoded = docs.mapInPandas(encode, "doc_id long, payload binary")
    assets = multimodal.to_multimodal(encoded, "doc_id", "payload", "image/webp")
    return multimodal.image_features(assets).select(
        F.col("asset_id").alias("doc_id"),
        "width",
        "height",
        "mean_r",
        "mean_g",
        "mean_b",
    )


@query(
    "l8i_audio_spectral",
    sql="""
    SELECT doc_id,
           CAST(8000 AS INT) AS sample_rate,
           CAST(2000 AS BIGINT) AS n_samples,
           ROUND(CAST(200 + (doc_id % 20) * 100 AS DOUBLE), 6) AS dominant_hz
    FROM documents WHERE doc_id < 40
    """,
    tier="T3",
    survey="L8,J4",
)
def l8i_audio_spectral(spark, sf_dir):
    """REAL spectral analysis, oracle-checked: synthesize a pure tone per
    doc_id at 200 + (doc_id%20)·100 Hz (bin-aligned: every tone is a
    multiple of sr/n = 4 Hz), WAV-encode, decode, rFFT inside
    mapInPandas — the measured dominant frequency must equal the
    closed-form tone the oracle computes symbolically. A broken decoder,
    sample scaling, or FFT indexing all mismatch."""
    import numpy as np
    import pandas as pd

    docs = T(spark, sf_dir, "documents").where(F.col("doc_id") < 40).select("doc_id")
    sr, n = 8000, 2000

    def encode(batches):
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                f = 200 + (int(d) % 20) * 100
                t = np.arange(n) / sr
                x = 0.7 * np.sin(2 * np.pi * f * t)
                rows.append((int(d), multimodal.encode_wav(x, sr)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    encoded = docs.mapInPandas(encode, "doc_id long, payload binary")
    assets = multimodal.to_multimodal(encoded, "doc_id", "payload", "audio/wav")
    return multimodal.audio_spectral_features(assets).select(
        F.col("asset_id").alias("doc_id"),
        "sample_rate",
        "n_samples",
        "dominant_hz",
    )


@query(
    "l47_bm25_retrieval",
    sql="""
    WITH dl AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ), stats AS (
      SELECT COUNT(*) AS n, SUM(dl) AS sum_dl FROM dl
    ), hits AS (
      SELECT doc_id, tok AS term, COUNT(*) AS tf FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      ) WHERE tok IN ('hash', 'join', 'vector', 'window', 'stream')
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
    """,
    tier="T2",
    survey="L6,L5,H9,H5,D1",
)
def l47_bm25_retrieval(spark, sf_dir):
    """Okapi BM25 ranked retrieval over the corpus for a 5-term query —
    the ranked-search face of tf-idf (operators/text.bm25_scores). The
    oracle mirrors the expression tree association-order-exactly; the
    per-document sum is integer-micros (dsum discipline), so term order
    cannot flip a digit. Plan: map-side term prune before the only
    token-level shuffle; df and corpus stats ride broadcast joins."""
    docs = T(spark, sf_dir, "documents")
    return text.bm25_scores(
        docs, "doc_id", "text", ["hash", "join", "vector", "window", "stream"]
    )


@query(
    "l48_jaccard_prefix_join",
    sql="""
    WITH sh AS (
      SELECT doc_id, list_distinct(list_transform(
        generate_series(1, greatest(len(str_split(text,' ')) - 2, 1)),
        i -> str_split(text,' ')[i] || ' ' || str_split(text,' ')[i+1]
             || ' ' || str_split(text,' ')[i+2])) AS s
      FROM documents
    ), tok AS (
      SELECT doc_id, unnest(s) AS t FROM sh
    ), cand AS (
      -- Jaccard >= t > 0 requires >= 1 shared shingle, so the postings
      -- equi-join is a LOSSLESS candidate set (and, unlike the engine's
      -- prefix filter, does not depend on the prefix-length lemma under
      -- test); the quadratic cross-join form is equivalent but takes
      -- minutes at sf0.1
      SELECT DISTINCT a.doc_id AS ka, b.doc_id AS kb
      FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
    )
    SELECT c.ka AS key_a, c.kb AS key_b,
           ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(a.s || b.s)), 6) AS jaccard
    FROM cand c JOIN sh a ON a.doc_id = c.ka JOIN sh b ON b.doc_id = c.kb
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / len(list_distinct(a.s || b.s)) >= 0.5
    """,
    tier="T2",
    survey="L2,H7,H8,E1",
)
def l48_jaccard_prefix_join(spark, sf_dir):
    """Exact Jaccard-threshold similar-pair join over the FULL corpus via
    prefix filtering (dedup.prefix_filter_jaccard_join) — lossless
    candidate generation, so the oracle is the brute-force quadratic join
    and must match row-for-row (where l14 brute-forces a bounded subset,
    this scales: candidates come from rarest-first prefix postings, not
    all pairs)."""
    docs = T(spark, sf_dir, "documents")
    return dedup.prefix_filter_jaccard_join(docs, "doc_id", "text", 0.5)


@query(
    "l49_importance_weights",
    sql="""
    WITH toks AS (
      SELECT doc_id, source IN ('src1', 'src2', 'src3') AS tgt,
             unnest(string_split(text, ' ')) AS t
      FROM documents
    ),
    freq AS (
      SELECT t, COUNT(*) AS tf_raw,
             SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS tf_tgt
      FROM toks GROUP BY t
    ),
    tot AS (
      SELECT SUM(tf_raw) AS n_raw, SUM(tf_tgt) AS n_tgt, COUNT(*) AS v
      FROM freq
    ),
    sc AS (
      SELECT doc_id,
             CAST(ROUND((ln((tf_tgt + 1.0) / (n_tgt + v))
                         - ln((tf_raw + 1.0) / (n_raw + v))) * 1000000)
                  AS BIGINT) AS w
      FROM toks JOIN freq USING (t), tot
    ),
    scored AS (
      SELECT doc_id,
             ROUND(SUM(w) / COUNT(*) / 1000000.0, 6) AS importance,
             COUNT(*) AS n_tokens
      FROM sc GROUP BY doc_id
    )
    SELECT s.doc_id, s.importance, s.n_tokens
    FROM scored s JOIN documents d USING (doc_id)
    WHERE d.source NOT IN ('src1', 'src2', 'src3')
    ORDER BY s.importance DESC, s.doc_id ASC
    LIMIT 20
    """,
    tier="T3",
    survey="L7,L5,H5,C1,F3",
)
def l49_importance_weights(spark, sf_dir):
    """DSIR-style data selection (operators/corpus.importance_weights):
    three curated sources act as the target distribution; every other
    document is scored by its smoothed unigram log-likelihood ratio
    target-vs-raw, and the 20 best-matching candidates are selected for
    up-sampling. The vocabulary frequency table is the only exchange
    (O(distinct tokens) rows); totals are a broadcast 3-number frame; the
    final top-k is a global-limit sort over one row per document."""
    docs = T(spark, sf_dir, "documents")
    tgt_sources = ("src1", "src2", "src3")
    scored = corpus_ops.importance_weights(
        docs, "doc_id", "text", F.col("source").isin(*tgt_sources)
    )
    cand = docs.where(~F.col("source").isin(*tgt_sources)).select("doc_id")
    return (
        scored.join(cand, "doc_id")
        .orderBy(F.col("importance").desc(), F.col("doc_id").asc())
        .limit(20)
    )


@query(
    "l50_neardup_canonical",
    sql="""
    WITH RECURSIVE sh AS (
      SELECT doc_id, list_distinct(list_transform(
        generate_series(1, greatest(len(str_split(text,' ')) - 2, 1)),
        i -> str_split(text,' ')[i] || ' ' || str_split(text,' ')[i+1]
             || ' ' || str_split(text,' ')[i+2])) AS s
      FROM documents
    ), tok AS (
      SELECT doc_id, unnest(s) AS t FROM sh
    ), cand AS (
      SELECT DISTINCT a.doc_id AS ka, b.doc_id AS kb
      FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
    ), e0 AS (
      SELECT c.ka AS a, c.kb AS b
      FROM cand c JOIN sh sa ON sa.doc_id = c.ka JOIN sh sb ON sb.doc_id = c.kb
      WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
            / len(list_distinct(sa.s || sb.s)) >= 0.5
    ), e AS (
      SELECT a, b FROM e0 UNION SELECT b, a FROM e0
    ), nodes AS (
      SELECT DISTINCT a AS node FROM e
    ), r(node, lbl) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.b, r.lbl FROM r JOIN e ON e.a = r.node
    ), lab AS (
      SELECT node, CAST(MIN(lbl) AS BIGINT) AS label FROM r GROUP BY node
    ), ranked AS (
      SELECT lab.label, lab.node, d.n_chars,
             row_number() OVER (PARTITION BY lab.label
               ORDER BY d.n_chars DESC, lab.node ASC) AS rn
      FROM lab JOIN documents d ON d.doc_id = lab.node
    )
    SELECT label, COUNT(*) AS n_docs,
           MAX(CASE WHEN rn = 1 THEN node END) AS canonical_id,
           MAX(CASE WHEN rn = 1 THEN n_chars END) AS canonical_chars,
           COUNT(*) - 1 AS n_dropped
    FROM ranked GROUP BY label
    """,
    tier="T3",
    survey="L2,L1,E1,D1,H3",
)
def l50_neardup_canonical(spark, sf_dir):
    """The keep-the-best half of near-dup dedup, at the production shape:
    exact Jaccard-threshold pairs over the FULL corpus via prefix
    filtering (dedup.prefix_filter_jaccard_join — lossless candidates
    from rarest-first postings, never all-pairs), min-label connected
    components, then each duplicate cluster elects a CANONICAL document
    by quality (longest text, doc_id tie-break) instead of the naive
    min-id — the rule when duplicates differ in truncation or
    boilerplate. The oracle recomputes the whole chain declaratively
    (postings candidates + recursive-CTE fixpoint + window election), so
    the iterative CC and the election are value-checked end to end."""
    from pyspark.sql import Window

    docs = T(spark, sf_dir, "documents")
    edges = dedup.prefix_filter_jaccard_join(docs, "doc_id", "text", 0.5).select(
        "key_a", "key_b"
    )
    # hybrid CC: min-label probe
    # rounds (the measured winner on tiny-diameter near-dup graphs) with
    # a star-contraction fallback on the quotient for chain topology;
    # identical labels either way
    lab = dedup.connected_components_hybrid(edges)
    ranked = lab.join(
        docs.select(F.col("doc_id").alias("node"), "n_chars"), "node"
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("label").orderBy(
                F.col("n_chars").desc(), F.col("node").asc()
            )
        ),
    )
    return ranked.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max(F.when(F.col("rn") == 1, F.col("node"))).alias("canonical_id"),
        F.max(F.when(F.col("rn") == 1, F.col("n_chars"))).alias(
            "canonical_chars"
        ),
        (F.count(F.lit(1)) - 1).alias("n_dropped"),
    )


@query(
    "l51_group_split",
    sql="""
    WITH assigned AS (
      SELECT doc_id, source,
             CASE WHEN (ascii(substr(md5(source),1,1)) * 256
                        + ascii(substr(md5(source),2,1))) % 100 < 80 THEN 'train'
                  WHEN (ascii(substr(md5(source),1,1)) * 256
                        + ascii(substr(md5(source),2,1))) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, COUNT(DISTINCT source) AS n_sources, COUNT(*) AS n_docs
    FROM assigned GROUP BY split
    """,
    tier="T3",
    survey="L-ext,B8,H6,D2",
)
def l51_group_split(spark, sf_dir):
    """GROUP-aware train/val/test split — the leakage-safe variant of
    l17: the md5 range is taken over the GROUP key (source), so every
    document of a source lands in the same split and no near-identical
    sibling can leak from train into test. Pure per-row expression (no
    shuffle to assign); by construction Σ per-split n_sources equals the
    distinct source count — the audit the oracle also checks."""
    from oeem_etl_spark.operators.splits import deterministic_split

    docs = T(spark, sf_dir, "documents")
    out = deterministic_split(docs, "source")
    return out.groupBy("split").agg(
        F.count_distinct("source").alias("n_sources"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@query(
    "l52_dedup_aware_split",
    sql="""
    WITH RECURSIVE sh AS (
      SELECT doc_id, list_distinct(list_transform(
        generate_series(1, greatest(len(str_split(text,' ')) - 2, 1)),
        i -> str_split(text,' ')[i] || ' ' || str_split(text,' ')[i+1]
             || ' ' || str_split(text,' ')[i+2])) AS s
      FROM documents
    ), tok AS (
      SELECT doc_id, unnest(s) AS t FROM sh
    ), cand AS (
      SELECT DISTINCT a.doc_id AS ka, b.doc_id AS kb
      FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
    ), e0 AS (
      SELECT c.ka AS a, c.kb AS b
      FROM cand c JOIN sh sa ON sa.doc_id = c.ka JOIN sh sb ON sb.doc_id = c.kb
      WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
            / len(list_distinct(sa.s || sb.s)) >= 0.5
    ), e AS (
      SELECT a, b FROM e0 UNION SELECT b, a FROM e0
    ), nodes AS (SELECT DISTINCT a AS node FROM e),
    r(node, lbl) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.b, r.lbl FROM r JOIN e ON e.a = r.node
    ), lab AS (
      SELECT node, CAST(MIN(lbl) AS BIGINT) AS label FROM r GROUP BY node
    ), keyed AS (
      SELECT d.doc_id,
             CAST(COALESCE(lab.label, d.doc_id) AS VARCHAR) AS split_key,
             CASE WHEN lab.node IS NOT NULL THEN 1 ELSE 0 END AS clustered
      FROM documents d LEFT JOIN lab ON lab.node = d.doc_id
    ), assigned AS (
      SELECT doc_id, clustered,
             CASE WHEN (ascii(substr(md5(split_key),1,1)) * 256
                        + ascii(substr(md5(split_key),2,1))) % 100 < 80 THEN 'train'
                  WHEN (ascii(substr(md5(split_key),1,1)) * 256
                        + ascii(substr(md5(split_key),2,1))) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM keyed
    )
    SELECT split, COUNT(*) AS n_docs,
           CAST(SUM(clustered) AS BIGINT) AS n_clustered_docs
    FROM assigned GROUP BY split
    """,
    tier="T3",
    survey="L-ext,L2,L1,H6,C2",
)
def l52_dedup_aware_split(spark, sf_dir):
    """Near-dup-AWARE train/val/test split — the corpus-hygiene step
    published eval protocols demand: documents in the same near-dup
    cluster (prefix-filter Jaccard ≥ 0.5 → connected components, the l50
    chain) share one split key (the cluster label), so a test document
    can never have a near-duplicate sibling in train. Singletons hash by
    their own id. The oracle replays candidates + recursive-CTE CC +
    the same md5 range arithmetic end to end."""
    from oeem_etl_spark.operators.splits import deterministic_split

    docs = T(spark, sf_dir, "documents")
    edges = dedup.prefix_filter_jaccard_join(docs, "doc_id", "text", 0.5).select(
        "key_a", "key_b"
    )
    # hybrid CC, same labels (see l50's note)
    lab = dedup.connected_components_hybrid(edges)
    keyed = docs.join(
        lab.select(F.col("node").alias("doc_id"), "label"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("label"), F.col("doc_id")).cast("string").alias(
            "split_key"
        ),
        F.when(F.col("label").isNotNull(), 1).otherwise(0).alias("clustered"),
    )
    out = deterministic_split(keyed, "split_key")
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("clustered").cast("long").alias("n_clustered_docs"),
    )


@query(
    "l53_unigram_drift",
    sql="""
    WITH toks AS (
      SELECT doc_id % 2 = 0 AS ref, unnest(string_split(text, ' ')) AS t
      FROM documents
    ),
    freq AS (
      SELECT t, SUM(CASE WHEN ref THEN 1 ELSE 0 END) AS tf_ref,
             SUM(CASE WHEN ref THEN 0 ELSE 1 END) AS tf_inc
      FROM toks GROUP BY t
    ),
    tot AS (
      SELECT SUM(tf_ref) AS n_ref, SUM(tf_inc) AS n_inc, COUNT(*) AS v
      FROM freq
    )
    SELECT t AS token,
           CAST(tf_ref AS BIGINT) AS tf_ref,
           CAST(tf_inc AS BIGINT) AS tf_inc,
           CAST(ROUND(((tf_inc + 1.0) / (n_inc + v))
                      * ln(((tf_inc + 1.0) / (n_inc + v))
                           / ((tf_ref + 1.0) / (n_ref + v)))
                      * 1000000000) AS BIGINT) AS kl_nanos
    FROM freq, tot
    ORDER BY kl_nanos DESC, token ASC
    LIMIT 15
    """,
    tier="T3",
    survey="L7,L5,H5,F3",
)
def l53_unigram_drift(spark, sf_dir):
    """Corpus distribution-drift monitor (operators/corpus.unigram_drift):
    even-id docs act as the reference slice, odd-id as the incoming
    batch; the top-15 tokens by contribution to KL(incoming ‖ reference)
    surface what shifted. Vocabulary-bounded shuffle, broadcast totals,
    TakeOrderedAndProject top-k — and nano-quantized contributions with
    one fixed association, so the ranking is bit-stable across engines."""
    docs = T(spark, sf_dir, "documents")
    return corpus_ops.unigram_drift(
        docs, "text", (F.col("doc_id") % 2 == 0), top_k=15
    )


@query(
    "l9b_embed_hash_oracle",
    # The one L9 shape an external SQL engine CAN reproduce: the embedding
    # is an md5-projection, so each component is md5-arithmetic. Integer
    # component sums divide by 1000 once at the end — float-exact on both
    # engines (no accumulation-order sensitivity).
    sql="""
    WITH emb AS (
      SELECT doc_id,
             list_transform(generate_series(0, 7), j ->
               CAST(concat('0x', substr(md5(text || '|' || CAST(j AS VARCHAR)), 1, 8))
                    AS UBIGINT) % 1000) AS v
      FROM documents
    )
    SELECT doc_id,
           CAST(list_sum(v) AS DOUBLE) / 1000.0 AS norm1,
           CAST(v[1] AS DOUBLE) / 1000.0 AS f0
    FROM emb
    """,
    tier="T3",
    survey="L9,J4,H6",
)
def l9b_embed_hash_oracle(spark, sf_dir):
    """Embed-batch surface (L9) with a value-checkable encoder: the same
    Arrow-batched mapInPandas plumbing as l9_embed_batch (iterator of
    batches in/out, declared schema, constant memory — swap the hash
    projection for a model call and nothing else changes), but the
    projection is md5-derived so the DuckDB oracle reproduces every
    component. This pins the batch plumbing itself — batching, schema,
    null-safety, Arrow transfer — with a full value check, which the
    stubbed l9 variant can't."""
    import hashlib

    import pandas as pd

    dim = 8

    def embed(batches):
        for pdf in batches:
            vs = [
                [
                    int(
                        hashlib.md5(f"{t}|{j}".encode()).hexdigest()[:8], 16
                    ) % 1000
                    for j in range(dim)
                ]
                for t in pdf["text"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "norm1": [sum(v) / 1000.0 for v in vs],
                    "f0": [v[0] / 1000.0 for v in vs],
                }
            )

    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInPandas(embed, "doc_id long, norm1 double, f0 double")


@query("l8j_webp_lossy_decode", sql=None, tier="T3", survey="L8,J4")
def l8j_webp_lossy_decode(spark, sf_dir):
    """Lossy-WebP (VP8 keyframe) decode: per doc a
    deterministic gradient image is encoded BOTH lossless (VP8L) and
    lossy (VP8, quantizer varying by doc), both payloads decode through
    the same container dispatch (multimodal.decode_image ->
    webpcodec/vp8codec), and the row reports the lossy-vs-lossless-twin
    mean-RGB error plus the compression ratio. Rows-only: the
    reconstruction depends on the codec's quantization arithmetic; the
    tolerance contract (err_mean bounded, monotone in quantizer) is
    asserted in tests/test_vp8.py and the row values themselves carry
    the evidence. Keyframe machinery is real spec structure; empirical
    probability tables are documented stand-ins (vp8codec docstring)."""
    import numpy as np
    import pandas as pd

    from oeem_etl_spark.operators import vp8codec, webpcodec

    docs = T(spark, sf_dir, "documents").where(F.col("doc_id") < 24).select("doc_id")

    def run(batches):
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                yy, xx = np.mgrid[0:32, 0:48]
                img = (
                    np.stack(
                        [xx * 2 + d * 5, yy * 3 + d * 7, 128 + xx // 2 + d],
                        axis=2,
                    )
                    .clip(0, 255)
                    .astype(np.uint8)
                )
                q = 4 + (d % 3) * 24  # 4 / 28 / 52
                lossy = vp8codec.encode_webp_lossy(img, q_index=q)
                rgba = np.concatenate(
                    [img, np.full((32, 48, 1), 255, np.uint8)], axis=2
                )
                lossless = webpcodec.encode_webp_lossless(rgba)
                _, _, dec_lossy = multimodal.decode_image(lossy)
                _, _, dec_ll = multimodal.decode_image(lossless)
                err = np.abs(dec_lossy.astype(int) - dec_ll.astype(int))
                rows.append(
                    (
                        d, q, 48, 32,
                        round(float(err.mean()), 2),
                        int(err.max()),
                        len(lossy), len(lossless),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "q_index", "width", "height",
                    "err_mean", "err_max", "lossy_bytes", "lossless_bytes",
                ],
            )

    return docs.mapInPandas(
        run,
        "doc_id long, q_index int, width int, height int, "
        "err_mean double, err_max int, lossy_bytes int, lossless_bytes int",
    )


@query(
    "l54_chunk_documents",
    # chunking is pure array arithmetic: token windows of size 32, stride
    # 24 (8-token overlap), last partial window kept iff >= 8 tokens
    # (except a doc shorter than one window yields its whole text).
    sql="""
    WITH tk AS (
      SELECT doc_id, str_split(text, ' ') AS t FROM documents
    ),
    idx AS (
      SELECT doc_id, t, len(t) AS n,
             generate_series(0, greatest((len(t) - 9) // 24, 0)) AS starts
      FROM tk
    ),
    chunks AS (
      SELECT doc_id, n, unnest(starts) * 24 AS s FROM idx
    )
    SELECT doc_id, CAST(s // 24 AS INT) AS chunk_idx,
           CAST(least(n - s, 32) AS INT) AS n_tokens,
           CAST(CAST(concat('0x', substr(md5(
             CAST(doc_id AS VARCHAR) || ':' || CAST(s // 24 AS VARCHAR)), 1, 8))
             AS UBIGINT) AS BIGINT) AS chunk_id
    FROM chunks
    """,
    tier="T3",
    survey="L5,H8,H9,H6",
)
def l54_chunk_documents(spark, sf_dir):
    """Chunking with STABLE CHUNK IDS — the retrieval-cache variant of
    l25_chunk_documents (which pins the window/stride arithmetic and
    chunk text): here each chunk additionally gets an md5-derived 32-bit
    id, reproducible across reruns and partitionings, which is the key a
    RAG index or embedding cache joins on (re-embedding only NEW chunk
    ids after a corpus refresh). Same map-side generator shape — no UDF,
    no shuffle; the last partial window is kept iff it has ≥ 8 fresh
    tokens (size 32, stride 24)."""
    docs = T(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    n = F.size("t")
    starts = F.sequence(
        F.lit(0), F.greatest((n - 9) / F.lit(24), F.lit(0)).cast("int")
    )
    ex = toks.select(
        "doc_id", n.alias("n"),
        F.posexplode(starts).alias("chunk_idx", "w"),
    ).select("doc_id", "n", "chunk_idx", (F.col("w") * 24).alias("s"))
    chunk_key = F.concat(
        F.col("doc_id").cast("string"), F.lit(":"),
        F.col("chunk_idx").cast("string"),
    )
    return ex.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.least(F.col("n") - F.col("s"), F.lit(32)).cast("int").alias("n_tokens"),
        F.conv(F.substring(F.md5(chunk_key), 1, 8), 16, 10)
        .cast("long")
        .alias("chunk_id"),
    )


@query(
    "l55_bigram_logprob",
    # Laplace-smoothed bigram LM scored by the corpus's own counts:
    # P(b|a) = (c(a,b) + 1) / (c(a) + V). Per-doc mean of ln P over the
    # doc's bigrams, integer-micros quantized per term (order-free).
    sql="""
    WITH tk AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
    bg AS (
      SELECT doc_id, t[i] AS a, t[i+1] AS b
      FROM tk, unnest(generate_series(1, len(t) - 1)) AS u(i)
      WHERE len(t) >= 2
    ),
    cab AS (SELECT a, b, COUNT(*) AS nab FROM bg GROUP BY a, b),
    ca AS (SELECT a, SUM(nab) AS na FROM cab GROUP BY a),
    v AS (SELECT COUNT(DISTINCT b) AS vs FROM bg)
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(SUM(CAST(ROUND(ln((nab + 1.0) / (na + vs)) * 1000000)
                 AS BIGINT)) / COUNT(*) / 1000000.0, 6) AS mean_logprob
    FROM bg JOIN cab USING (a, b) JOIN ca USING (a), v
    GROUP BY doc_id
    """,
    tier="T3",
    survey="L7,L5,D1,C1,H8",
)
def l55_bigram_logprob(spark, sf_dir):
    """Bigram-LM fluency scoring — the step up from l24's unigram
    perplexity stand-in: per-doc mean log P(token | prev) under the
    corpus's own Laplace-smoothed bigram model. Two hash aggregations
    over the exploded bigram stream + one join back on the bigram key;
    the vocabulary size is a broadcast scalar subquery. Every ln term is
    quantized to integer micros before the mean, so the result is exact
    integer arithmetic — engine- and order-independent."""
    docs = T(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    bg = (
        toks.where(F.size("t") >= 2)
        .select(
            "doc_id",
            F.posexplode(F.slice("t", 1, F.size("t") - 1)).alias("i", "a"),
            F.col("t").alias("t"),
        )
        .select(
            "doc_id", "a",
            F.element_at("t", F.col("i") + 2).alias("b"),
        )
    )
    # one scan: the exploded bigram stream feeds the count table AND the
    # final scoring join (same multi-branch-recompute fix as
    # importance_weights / prefix-Jaccard's postings, BASELINE.md r3);
    # vocab and the left-context totals derive from the (much smaller)
    # bigram-count table, not the stream
    from pyspark.storagelevel import StorageLevel

    bg = bg.persist(StorageLevel.MEMORY_AND_DISK)
    cab = bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("nab"))
    ca = cab.groupBy("a").agg(F.sum("nab").alias("na"))
    vocab = cab.agg(F.count_distinct("b").alias("vs"))
    lp_micros = F.round(
        F.log((F.col("nab") + 1.0) / (F.col("na") + F.col("vs"))) * 1_000_000
    ).cast("long")
    return (
        bg.join(cab, ["a", "b"])
        .join(ca, ["a"])
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.sum(lp_micros) / F.count(F.lit(1)) / 1_000_000.0, 6).alias(
                "mean_logprob"
            ),
        )
    )


@query(
    "l56_source_remix",
    # Deterministic corpus remixing toward a uniform per-source target:
    # keep-fraction = min(1, (N / n_sources) / n_s); membership by
    # md5-uniform — the same engine-portable draw as b8/l17, so the
    # remixed corpus is reproducible at any parallelism.
    sql=f"""
    WITH n AS (SELECT COUNT(*) AS total, COUNT(DISTINCT source) AS k
               FROM documents),
    per AS (SELECT source, COUNT(*) AS ns FROM documents GROUP BY source),
    frac AS (
      SELECT source, ns,
             least(1.0, (total * 1.0 / k) / ns) AS keep_frac
      FROM per, n
    )
    SELECT d.source, f.ns AS n_before,
           COUNT(*) FILTER (WHERE
             {{u}} < f.keep_frac) AS n_after,
           ROUND(f.keep_frac, 6) AS keep_frac
    FROM documents d JOIN frac f USING (source)
    GROUP BY d.source, f.ns, f.keep_frac
    ORDER BY d.source
    """.format(u=sql_hash_uniform("d.doc_id", 7)),
    tier="T3",
    survey="L-ext,B8,H6,D1,C9",
)
def l56_source_remix(spark, sf_dir):
    """Corpus remixing to a target source distribution (the data-mixing
    step every pretraining pipeline runs): compute per-source keep
    fractions toward a uniform mix, then keep rows whose md5-uniform
    draw falls under the fraction. Two tiny aggregates broadcast back
    onto the scan — the remix itself is one map-side filter, so at
    100 TB it costs one pass with no shuffle of the data rows."""
    from oeem_etl_spark.operators.splits import hash_uniform

    docs = T(spark, sf_dir, "documents")
    n = docs.agg(
        F.count(F.lit(1)).alias("total"),
        F.count_distinct("source").alias("k"),
    )
    per = docs.groupBy("source").agg(F.count(F.lit(1)).alias("ns"))
    frac = per.crossJoin(F.broadcast(n)).select(
        "source", "ns",
        F.least(
            F.lit(1.0), (F.col("total") / F.col("k")) / F.col("ns")
        ).alias("keep_frac"),
    )
    kept = F.when(hash_uniform("doc_id", seed=7) < F.col("keep_frac"), 1)
    return (
        docs.join(F.broadcast(frac), "source")
        .groupBy("source", "ns", "keep_frac")
        .agg(F.count(kept).alias("n_after"))
        .select(
            "source",
            F.col("ns").alias("n_before"),
            "n_after",
            F.round("keep_frac", 6).alias("keep_frac"),
        )
        .orderBy("source")
    )


@query(
    "l57_curriculum_shards",
    # Curriculum sharding: order docs by a quality score (distinct-token
    # ratio here), split into 8 equal-size shards with ntile, report each
    # shard's score envelope — the ordered-training-data layout step.
    sql="""
    WITH scored AS (
      SELECT doc_id,
             ROUND(CAST(len(list_distinct(str_split(text, ' '))) AS DOUBLE)
                   / len(str_split(text, ' ')), 6) AS score
      FROM documents
    ),
    sharded AS (
      SELECT doc_id, score,
             ntile(8) OVER (ORDER BY score, doc_id) AS shard
      FROM scored
    )
    SELECT CAST(shard AS INT) AS shard, COUNT(*) AS n_docs,
           MIN(score) AS min_score, MAX(score) AS max_score,
           MIN(doc_id) AS min_doc
    FROM sharded GROUP BY shard ORDER BY shard
    """,
    tier="T3",
    survey="L7,E1,D1,F1",
)
def l57_curriculum_shards(spark, sf_dir):
    """Curriculum ordering: score every document (distinct-token ratio —
    any L7 quality metric plugs in), ntile into 8 equal shards by
    (score, doc_id), and report each shard's envelope. The global ntile
    is the one total-order sort in the pipeline; at 100 TB you'd replace
    it with rangepartition + per-partition ntile over sampled quantile
    bounds — the SAME logical result, which is why the ntile contract
    (equal shard sizes, deterministic tie-break) is what's pinned here."""
    docs = T(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    scored = docs.select(
        "doc_id",
        F.round(F.size(F.array_distinct(toks)) / F.size(toks), 6).alias("score"),
    )
    w = Window.orderBy("score", "doc_id")
    sharded = scored.withColumn("shard", F.ntile(8).over(w))
    return (
        sharded.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
            F.min("doc_id").alias("min_doc"),
        )
        .select(F.col("shard").cast("int").alias("shard"), "n_docs",
                "min_score", "max_score", "min_doc")
        .orderBy("shard")
    )


@query(
    "l58_boilerplate_ngrams",
    # Cross-document boilerplate detection (the C4/RefinedWeb "repeated
    # n-gram" pruning signal): word 5-grams, document frequency across
    # the corpus, per-doc fraction of 5-grams that are corpus-repeated
    # (df >= 3 docs), rolled up per source. Per-doc fractions are
    # micros-quantized BIGINTs before the source-level mean so the
    # rollup is summation-order independent in both engines.
    sql="""
    WITH w AS (
      SELECT doc_id, source, str_split(text, ' ') AS words FROM documents
    ), g AS (
      SELECT DISTINCT doc_id, source,
             array_to_string(list_slice(words, i, i + 4), ' ') AS gram
      FROM w, UNNEST(range(1, len(words) - 3)) AS t(i)
    ), df AS (
      SELECT gram, COUNT(*) AS df_docs FROM g GROUP BY gram
    ), per_doc AS (
      SELECT g.doc_id, g.source,
             CAST(ROUND(1e6 * SUM(CASE WHEN df.df_docs >= 3 THEN 1 ELSE 0 END)
                        / COUNT(*)) AS BIGINT) AS bm
      FROM g JOIN df USING (gram)
      GROUP BY g.doc_id, g.source
    )
    SELECT source, COUNT(*) AS n_docs,
           ROUND(SUM(bm) / (COUNT(*) * 1e6), 6) AS avg_boilerplate,
           ROUND(MAX(bm) / 1e6, 6) AS max_boilerplate
    FROM per_doc GROUP BY source ORDER BY source
    """,
    tier="T3",
    survey="L-ext,L5,L7,D1,C1,H9",
)
def l58_boilerplate_ngrams(spark, sf_dir):
    """Corpus-level boilerplate scoring: per-doc distinct word 5-grams
    (array_distinct BEFORE the explode, so within-doc repeats never hit
    the wire), document frequency via one hash agg on the gram, flags
    joined back on the gram key, per-doc fraction, per-source rollup.
    Scale shape: two shuffles on the gram (agg + join-back), both
    map-side combinable; at 100 TB you'd bucket both sides of the
    join-back by gram hash, and the df table can be Bloom-pruned to
    grams with df >= 2 before the join since df = 1 grams contribute 0
    to every numerator."""
    docs = T(spark, sf_dir, "documents")
    # materialize the token array first (r9): the former inline split()
    # referenced inside the transform lambda re-ran per gram position —
    # the O(words²) re-evaluation trap shingles_from_tokens documents.
    words = F.col("__words")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(words) - 5),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, F.lit(5))),
    )
    g = docs.select(
        "doc_id", "source", F.split("text", " ").alias("__words")
    ).select(
        "doc_id",
        "source",
        F.explode(
            F.when(F.size(words) >= 5, F.array_distinct(grams)).otherwise(
                F.array().cast("array<string>")
            )
        ).alias("gram"),
    )
    df = g.groupBy("gram").agg(F.count(F.lit(1)).alias("df_docs"))
    per_doc = (
        g.join(df, "gram")
        .groupBy("doc_id", "source")
        .agg(
            F.round(
                F.lit(1e6)
                * F.sum(F.when(F.col("df_docs") >= 3, 1).otherwise(0))
                / F.count(F.lit(1))
            )
            .cast("long")
            .alias("bm")
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.sum("bm") / (F.count(F.lit(1)) * F.lit(1e6)), 6).alias(
                "avg_boilerplate"
            ),
            F.round(F.max("bm") / F.lit(1e6), 6).alias("max_boilerplate"),
        )
        .orderBy("source")
    )


@query(
    "l60_pmi_bigrams",
    # Collocation mining: corpus-wide PMI over word bigrams with a
    # support floor, top-20. The PMI argument is assembled in ONE fixed
    # association order — (((c_ab*nu)/nb)*nu)/(c_a*c_b) — mirrored
    # exactly on the Spark side so both engines execute the identical
    # IEEE double sequence before the 6-digit round.
    sql="""
    WITH w AS (
      SELECT str_split(text, ' ') AS words FROM documents
    ), tok AS (
      SELECT unnest(words) AS tokw FROM w
    ), uni AS (
      SELECT tokw, COUNT(*) AS c FROM tok GROUP BY tokw
    ), totals AS (
      SELECT SUM(c) AS nu FROM uni
    ), big AS (
      SELECT words[i] AS w1, words[i + 1] AS w2
      FROM w, UNNEST(range(1, len(words))) AS t(i)
    ), bc AS (
      SELECT w1, w2, COUNT(*) AS c_ab FROM big GROUP BY w1, w2
    ), btot AS (
      SELECT SUM(c_ab) AS nb FROM bc
    )
    SELECT bc.w1 || ' ' || bc.w2 AS bigram, bc.c_ab,
           ROUND(LN((((CAST(bc.c_ab AS DOUBLE) * totals.nu) / btot.nb)
                     * totals.nu)
                    / (CAST(u1.c AS DOUBLE) * u2.c)), 6) AS pmi
    FROM bc
    JOIN uni u1 ON bc.w1 = u1.tokw
    JOIN uni u2 ON bc.w2 = u2.tokw
    CROSS JOIN totals CROSS JOIN btot
    WHERE bc.c_ab >= 25
    ORDER BY pmi DESC, bigram ASC
    LIMIT 20
    """,
    tier="T3",
    survey="L-ext,L5,D1,C9,H8,F3",
)
def l60_pmi_bigrams(spark, sf_dir):
    """PMI collocation mining (phrase discovery for tokenizer/corpus
    work): unigram and bigram counts, PMI with a support floor, top-20
    tie-broken on the bigram. Scale shape: bigrams come from zip_with
    over the token array (no self-join), counts are two map-side
    combinable hash aggs, and the unigram vocabulary joins back onto
    the bigram table as a BROADCAST (vocabularies are ~1e6 rows at any
    corpus size; if a tokenizer explodes that, the joins degrade to
    hash joins on w1/w2 — still linear). Totals are single-row
    broadcasts."""
    docs = T(spark, sf_dir, "documents")
    words = F.split("text", " ")
    # r10 HOF audit: the slice LENGTH args previously used F.size(<split
    # expression>), re-running the split twice more per row; every ref
    # now resolves laterally to the materialized `words` alias.
    n = F.size(F.col("words"))
    docs = docs.select(
        words.alias("words"),
        F.zip_with(
            F.slice(F.col("words"), 1, n - 1),
            F.slice(F.col("words"), 2, n - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ).alias("bigrams"),
    )
    uni = (
        docs.select(F.explode("words").alias("tokw"))
        .groupBy("tokw")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = uni.agg(F.sum("c").alias("nu"))
    bc = (
        docs.select(F.explode("bigrams").alias("bg"))
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    btot = bc.agg(F.sum("c_ab").alias("nb"))
    u1 = uni.select(F.col("tokw").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("tokw").alias("w2"), F.col("c").alias("c2"))
    pmi = (
        F.log(
            (
                (F.col("c_ab").cast("double") * F.col("nu")) / F.col("nb")
                * F.col("nu")
            )
            / (F.col("c1").cast("double") * F.col("c2"))
        )
    )
    return (
        bc.where(F.col("c_ab") >= 25)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(btot))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            "c_ab",
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), F.col("bigram").asc())
        .limit(20)
    )


@query(
    "l61_dsir_select",
    # DSIR-style importance selection: score every document by the
    # log-likelihood ratio between a target unigram LM (docs from
    # 'src0') and the background LM (everything else), add-1 smoothed
    # over the shared vocabulary; keep the top 30. Each token's
    # log-ratio is nano-quantized to a BIGINT in the vocabulary table,
    # so the per-doc sum is integer arithmetic — summation-order
    # independent — and the ln() is evaluated once per vocab entry with
    # one fixed association on both engines.
    sql="""
    WITH tok AS (
      SELECT doc_id, lang, source, unnest(str_split(text, ' ')) AS tokw
      FROM documents
    ), vocab AS (
      SELECT tokw,
             SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct,
             SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS cb
      FROM tok GROUP BY tokw
    ), totals AS (
      SELECT SUM(ct) AS nt, SUM(cb) AS nb, COUNT(*) AS v FROM vocab
    ), scored_vocab AS (
      SELECT tokw,
             CAST(ROUND(1e9 * LN(((ct + 1.0) / (nt + v))
                                 / ((cb + 1.0) / (nb + v)))) AS BIGINT)
               AS lr_nanos
      FROM vocab CROSS JOIN totals
    )
    SELECT t.doc_id, ANY_VALUE(t.lang) AS lang, ANY_VALUE(t.source) AS source,
           COUNT(*) AS n_tokens,
           ROUND(SUM(sv.lr_nanos) / 1e9, 6) AS importance
    FROM tok t JOIN scored_vocab sv ON t.tokw = sv.tokw
    GROUP BY t.doc_id
    ORDER BY importance DESC, t.doc_id ASC
    LIMIT 30
    """,
    tier="T3",
    survey="L-ext,L5,L7,D1,C9,F3,H5",
)
def l61_dsir_select(spark, sf_dir):
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023 —
    public method): rank corpus documents by how target-like their
    unigram distribution is. Scale shape: one token explode feeds one
    vocabulary-sized hash agg (map-side combinable); the scored
    vocabulary (ln ratio, nano-quantized) is a BROADCAST back onto the
    token stream; the per-doc score is a BIGINT sum keyed by doc_id;
    top-30 is TakeOrderedAndProject. The corpus is scanned twice (vocab
    build + scoring) — at 100 TB you persist the tokenized stream or
    fold the vocab build into a sketch; both scans are
    shuffle-light."""
    docs = T(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", "source", F.explode(F.split("text", " ")).alias("tokw")
    )
    vocab = tok.groupBy("tokw").agg(
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("source") != "src0", 1).otherwise(0)).alias("cb"),
    )
    totals = vocab.agg(
        F.sum("ct").alias("nt"), F.sum("cb").alias("nb"), F.count(F.lit(1)).alias("v")
    )
    scored_vocab = vocab.crossJoin(F.broadcast(totals)).select(
        "tokw",
        F.round(
            F.lit(1e9)
            * F.log(
                ((F.col("ct") + F.lit(1.0)) / (F.col("nt") + F.col("v")))
                / ((F.col("cb") + F.lit(1.0)) / (F.col("nb") + F.col("v")))
            )
        )
        .cast("long")
        .alias("lr_nanos"),
    )
    return (
        tok.join(F.broadcast(scored_vocab), "tokw")
        .groupBy("doc_id")
        .agg(
            F.any_value("lang").alias("lang"),
            F.any_value("source").alias("source"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("lr_nanos") / F.lit(1e9), 6).alias("importance"),
        )
        .orderBy(F.col("importance").desc(), F.col("doc_id").asc())
        .limit(30)
    )


@query(
    "l62_substring_dedup",
    # Exact-substring dedup signal (Lee et al. 2021 arXiv:2107.06499 at
    # 8-word window granularity): per doc, merged word spans whose
    # 8-gram content appears in >= 2 docs and whose doc is not the
    # canonical (smallest doc_id) holder; per-source rollup of the
    # duplicated-word fraction. Fractions are micros-quantized BIGINTs
    # before the mean so the rollup is summation-order independent.
    sql="""
    WITH w AS (
      SELECT doc_id, source, str_split(text, ' ') AS words FROM documents
    ), win AS (
      SELECT doc_id, i - 1 AS s, i + 6 AS e,
             array_to_string(list_slice(words, i, i + 7), ' ') AS gram
      FROM w, UNNEST(range(1, len(words) - 6)) AS t(i)
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
    ), per_doc AS (
      SELECT w.doc_id, w.source, len(w.words) AS n_words,
             COALESCE(SUM(m.me - m.ms + 1), 0) AS dup_words
      FROM w LEFT JOIN merged m USING (doc_id)
      GROUP BY w.doc_id, w.source, len(w.words)
    )
    SELECT source, COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE dup_words > 0) AS docs_with_dups,
           CAST(SUM(dup_words) AS BIGINT) AS dup_words_total,
           ROUND(SUM(CAST(ROUND(1e6 * dup_words / n_words) AS BIGINT))
                 / (COUNT(*) * 1e6), 6) AS avg_dup_frac,
           ROUND(MAX(CAST(ROUND(1e6 * dup_words / n_words) AS BIGINT)) / 1e6,
                 6) AS max_dup_frac
    FROM per_doc GROUP BY source ORDER BY source
    """,
    tier="T3",
    survey="L-ext,L1,L5,E3,D1,C1,H9",
)
def l62_substring_dedup(spark, sf_dir):
    """Exact-substring (windowed) dedup signal per source: duplicated
    8-word spans merged per doc, canonical smallest-doc copy exempt.
    Spark path: `dedup.duplicate_window_spans` — one posexplode of
    per-doc window keys, one map-side-combinable hash agg on the
    window, join-back, interval merge over droppable spans only. This
    oracle twin keys on the raw gram string (`hash_windows=False`);
    production keys on xxhash64 so the two shuffles carry 8 bytes per
    window, never text — see the operator docstring for the 100 TB
    posture."""
    docs = T(spark, sf_dir, "documents")
    spans = dedup.duplicate_window_spans(
        docs, "doc_id", "text", window=8, min_docs=2, hash_windows=False
    )
    dup = spans.groupBy("doc_id").agg(
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias("dup_words")
    )
    per_doc = (
        docs.join(dup, "doc_id", "left")
        .select(
            "source",
            F.size(F.split("text", " ")).alias("n_words"),
            F.coalesce("dup_words", F.lit(0)).alias("dup_words"),
        )
        .withColumn(
            "frac_micro",
            F.round(F.lit(1e6) * F.col("dup_words") / F.col("n_words")).cast("long"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("dup_words") > 0, 1)).alias("docs_with_dups"),
            F.sum("dup_words").alias("dup_words_total"),
            F.round(F.sum("frac_micro") / (F.count(F.lit(1)) * F.lit(1e6)), 6).alias(
                "avg_dup_frac"
            ),
            F.round(F.max("frac_micro") / F.lit(1e6), 6).alias("max_dup_frac"),
        )
        .orderBy("source")
    )


@query(
    "l62b_substring_dedup_text",
    # Reconstruction twin of l62: every document's text is rewritten
    # with droppable duplicated 8-word spans removed (canonical copy
    # keeps its text); output is (doc_id, md5-of-rewritten-text,
    # words kept / removed), so the oracle certifies the REBUILT
    # STRINGS byte-for-byte, not just the span accounting.
    sql="""
    WITH w AS (
      SELECT doc_id, str_split(text, ' ') AS words FROM documents
    ), win AS (
      SELECT doc_id, i - 1 AS s, i + 6 AS e,
             array_to_string(list_slice(words, i, i + 7), ' ') AS gram
      FROM w, UNNEST(range(1, len(words) - 6)) AS t(i)
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
    tier="T3",
    survey="L-ext,L1,H6,H8,C1,E3",
)
def l62b_substring_dedup_text(spark, sf_dir):
    """Rebuilt-text certification of `dedup.substring_dedup`: the rewrite
    itself (higher-order `filter((word, i) -> no span covers i)` over the
    per-doc merged-span array, JVM lambda, no Python UDF) is compared as
    md5-of-string against an independent SQL reconstruction that keeps
    tokens by position anti-join. Every document appears exactly once,
    fully-deduplicated docs included (empty string, md5 of '')."""
    docs = T(spark, sf_dir, "documents")
    out = dedup.substring_dedup(
        docs, "doc_id", "text", window=8, min_docs=2, hash_windows=False
    )
    return out.select(
        "doc_id",
        F.md5("text_deduped").alias("text_md5"),
        (F.col("n_words") - F.col("dup_words")).alias("kept_words"),
        "dup_words",
    ).orderBy("doc_id")


def _pq_cte(
    m: int = 4,
    k_codes: int = 16,
    iters: int = 1,
    dim: int = 64,
    scale: int = 1000,
    n_queries: int = 10,
):
    """DuckDB oracle for fixed-point product quantization: per subspace,
    the same unrolled Lloyd CTEs as `_kmeans_cte` (seeded from the
    k_codes smallest vec_ids' subvectors), then per-subspace encode
    CTEs, query-side LUT CTEs (queries = vec_id < n_queries), and the
    ADC sum assembled by a (subspace, code)-keyed join. All arithmetic
    is exact int64 on the quantized grid — bit-identical to
    clustering.pq_train/pq_encode/pq_adc_topk. Returns (cte_sql,
    adc_name) where adc_name holds (q_id, vec_id, adc_dist)."""
    sub = dim // m
    parts = [
        f"""q AS (
      SELECT vec_id, list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS v
      FROM embeddings
    )"""
    ]
    for j in range(m):
        lo, hi = j * sub + 1, (j + 1) * sub
        parts.append(
            f"""q{j} AS (
      SELECT vec_id, list_slice(v, {lo}, {hi}) AS v FROM q
    ),
    c{j}_0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v
      FROM q{j} ORDER BY vec_id LIMIT {k_codes}
    )"""
        )
        for it in range(1, iters + 1):
            parts.append(
                f"""d{j}_{it} AS (
      SELECT q{j}.vec_id, c.cid,
             list_sum(list_transform(generate_series(1, {sub}),
                      i -> (q{j}.v[i] - c.v[i]) * (q{j}.v[i] - c.v[i]))) AS dist
      FROM q{j} CROSS JOIN c{j}_{it - 1} c
    ),
    a{j}_{it} AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d{j}_{it}
      ) WHERE rn = 1
    ),
    s{j}_{it} AS (
      SELECT a{j}_{it}.cid, p.pos,
             CAST(round(CAST(SUM(q{j}.v[p.pos]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
      FROM a{j}_{it} JOIN q{j} USING (vec_id)
      CROSS JOIN (SELECT unnest(generate_series(1, {sub})) AS pos) p
      GROUP BY a{j}_{it}.cid, p.pos
    ),
    n{j}_{it} AS (SELECT cid, list(cv ORDER BY pos) AS v FROM s{j}_{it} GROUP BY cid),
    c{j}_{it} AS (
      SELECT c{j}_{it - 1}.cid, COALESCE(n{j}_{it}.v, c{j}_{it - 1}.v) AS v
      FROM c{j}_{it - 1} LEFT JOIN n{j}_{it} USING (cid)
    )"""
            )
        parts.append(
            f"""e{j} AS (
      SELECT vec_id, {j} AS sp, cid FROM (
        SELECT q{j}.vec_id, c.cid,
               row_number() OVER (PARTITION BY q{j}.vec_id ORDER BY
                 list_sum(list_transform(generate_series(1, {sub}),
                          i -> (q{j}.v[i] - c.v[i]) * (q{j}.v[i] - c.v[i]))),
                 c.cid) AS rn
        FROM q{j} CROSS JOIN c{j}_{iters} c
      ) WHERE rn = 1
    ),
    l{j} AS (
      SELECT qs.vec_id AS q_id, {j} AS sp, c.cid,
             list_sum(list_transform(generate_series(1, {sub}),
                      i -> (qs.v[i] - c.v[i]) * (qs.v[i] - c.v[i]))) AS d
      FROM (SELECT vec_id, v FROM q{j} WHERE vec_id < {n_queries}) qs
      CROSS JOIN c{j}_{iters} c
    )"""
        )
    enc = " UNION ALL ".join(f"SELECT * FROM e{j}" for j in range(m))
    lut = " UNION ALL ".join(f"SELECT * FROM l{j}" for j in range(m))
    parts.append(
        f"""enc AS ({enc}),
    lut AS ({lut}),
    adc AS (
      SELECT l.q_id, e.vec_id, CAST(SUM(l.d) AS BIGINT) AS adc_dist
      FROM enc e JOIN lut l ON l.sp = e.sp AND l.cid = e.cid
      GROUP BY l.q_id, e.vec_id
    )"""
    )
    return "WITH " + ",\n    ".join(parts), "adc"


_PQ_CTE, _PQ_ADC = _pq_cte()


@query(
    "l63_pq_adc_topk",
    sql=f"""
    {_PQ_CTE}
    SELECT q_id, vec_id, adc_dist, CAST(rnk AS INT) AS rnk FROM (
      SELECT q_id, vec_id, adc_dist,
             row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rnk
      FROM {_PQ_ADC}
    ) WHERE rnk <= 5 ORDER BY q_id, rnk
    """,
    tier="T3",
    survey="L3,L-ext,H8,E5,D1",
)
def l63_pq_adc_topk(spark, sf_dir):
    """Product-quantization ANN (Jégou et al. 2011), pure ADC stage:
    4 subspaces × 16 codes trained by one fixed-point Lloyd round,
    corpus encoded to 4 small ints/vector, per-query exact-int64 LUT,
    distance = 4 lookups summed. Fully oracle-checked INCLUDING the
    per-subspace training (unrolled CTEs). Scale: the ADC join ships
    (key, 4 codes) per corpus row — ~32× less than the float vectors —
    and the query side (with LUTs) broadcasts; training is
    per-subspace map+agg rounds with driver state = the 1 KB codebook."""
    from oeem_etl_spark.operators import clustering

    emb = T(spark, sf_dir, "embeddings")
    books = clustering.pq_train(
        emb, "vec_id", "embedding", m=4, dim=64, k_codes=16, iters=1
    )
    codes = clustering.pq_encode(emb, "vec_id", books)
    qs = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return clustering.pq_adc_topk(codes, qs, books, k=5).orderBy("q_id", "rnk")


@query(
    "l63b_pq_refined_topk",
    sql=f"""
    {_PQ_CTE},
    short AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rn
        FROM {_PQ_ADC}
      ) WHERE rn <= 50
    ),
    exact AS (
      SELECT s.q_id, s.vec_id,
             CAST(list_sum(list_transform(generate_series(1, 64),
                      i -> (qq.v[i] - cq.v[i]) * (qq.v[i] - cq.v[i])))
               AS BIGINT) AS l2q_dist
      FROM short s
      JOIN q cq ON cq.vec_id = s.vec_id
      JOIN q qq ON qq.vec_id = s.q_id
    )
    SELECT q_id, vec_id, l2q_dist, CAST(rnk AS INT) AS rnk FROM (
      SELECT q_id, vec_id, l2q_dist,
             row_number() OVER (PARTITION BY q_id ORDER BY l2q_dist, vec_id) AS rnk
      FROM exact
    ) WHERE rnk <= 5 ORDER BY q_id, rnk
    """,
    tier="T3",
    survey="L3,L-ext,H8,E5,C1",
)
def l63b_pq_refined_topk(spark, sf_dir):
    """Production PQ shape: ADC shortlist (50/query over codes only) +
    exact quantized-L2 re-rank of the shortlist against the float
    vectors. Recall lost to 16-code coarseness comes back in the
    re-rank (tests assert recall@5 vs brute force); full-precision
    vectors are touched for 50 · n_queries rows only. Oracle-checked
    end-to-end — training, encode, ADC, and re-rank."""
    from oeem_etl_spark.operators import clustering

    emb = T(spark, sf_dir, "embeddings")
    books = clustering.pq_train(
        emb, "vec_id", "embedding", m=4, dim=64, k_codes=16, iters=1
    )
    qs = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return clustering.pq_search_refined(
        emb, qs, books, k=5, shortlist=50
    ).orderBy("q_id", "rnk")


@query(
    "l8k_tiff_decode",
    sql="""
    SELECT doc_id,
           CAST(6 + doc_id % 3 AS INT) AS width,
           CAST(4 + 2 * (doc_id % 4) AS INT) AS height,
           ROUND((CAST(doc_id % 256 AS DOUBLE) + CAST((doc_id * 5) % 256 AS DOUBLE)) / 2, 6) AS mean_r,
           ROUND((CAST((2 * doc_id) % 256 AS DOUBLE) + CAST((doc_id * 9) % 256 AS DOUBLE)) / 2, 6) AS mean_g,
           ROUND((CAST((3 * doc_id) % 256 AS DOUBLE) + CAST((doc_id * 17) % 256 AS DOUBLE)) / 2, 6) AS mean_b
    FROM documents WHERE doc_id < 40
    """,
    tier="T3",
    survey="L8,J4",
)
def l8k_tiff_decode(spark, sf_dir):
    """REAL TIFF decode, oracle-checked (uncompressed stripped RGB per the
    TIFF 6.0 spec — IFD tag parsing, both byte orders;
    operators/imagecodec.py): two-tone fixture per doc, height forced
    even so each channel mean is exactly (A+B)/2 (the l8f PNG scheme
    with different color constants). Encoded little-endian, decoded via
    the magic-sniffing image_features path."""
    import numpy as np
    import pandas as pd

    from oeem_etl_spark.operators import imagecodec

    docs = T(spark, sf_dir, "documents").where(F.col("doc_id") < 40).select("doc_id")

    def encode(batches):
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 6 + d % 3, 4 + 2 * (d % 4)
                px = np.zeros((h, w, 3), dtype=np.uint8)
                px[: h // 2] = [d % 256, (2 * d) % 256, (3 * d) % 256]
                px[h // 2 :] = [(5 * d) % 256, (9 * d) % 256, (17 * d) % 256]
                rows.append((d, imagecodec.encode_tiff(px)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    encoded = docs.mapInPandas(encode, "doc_id long, payload binary")
    assets = multimodal.to_multimodal(encoded, "doc_id", "payload", "image/tiff")
    return multimodal.image_features(assets).select(
        F.col("asset_id").alias("doc_id"),
        "width", "height", "mean_r", "mean_g", "mean_b",
    )


# ---------------------------------------------------------------------------
# Sign-random-projection LSH (similarity.srp_sketch): the md5-derived ±1
# plane matrix is a constant SPEC shared verbatim by both engines, and the
# micros-quantized dots are exact int64 — so unlike the seeded-xxhash LSH
# families (rows-only l3b), this sketch is value-oracle-checked.
# ---------------------------------------------------------------------------


def _srp_sql(bits: int = 16, dim: int = 64) -> str:
    planes = similarity.srp_planes(bits, dim)
    terms = []
    for b, plane in enumerate(planes):
        arr = "[" + ",".join(str(s) for s in plane) + "]"
        terms.append(
            f"CASE WHEN list_sum(list_transform(range(1, {dim + 1}),"
            f" j -> qv[j] * ({arr})[CAST(j AS INT)])) > 0"
            f" THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        )
    sum_expr = "\n           + ".join(terms)
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      FROM embeddings
    )
    SELECT vec_id, CAST({sum_expr} AS BIGINT) AS srp FROM q
    """


@query(
    "l73_srp_sketch",
    sql=_srp_sql(),
    tier="T3",
    survey="L3,L2,H8,H6",
)
def l73_srp_sketch(spark, sf_dir):
    """16-bit sign-random-projection sketch per embedding (Charikar 2002
    SimHash for real vectors): bit b = sign of the exact int64 dot of the
    micros-quantized vector with a deterministic md5-derived ±1 plane.
    Map-only candidate-generation signature for angular near-neighbor
    search — equal sketches bucket together, Hamming distance estimates
    the angle. Value-oracle-checked bit for bit (the plane matrix is a
    shared literal spec, not runtime RNG)."""
    emb = T(spark, sf_dir, "embeddings")
    return similarity.srp_sketch(emb, "vec_id", "embedding")


@query(
    "l8l_resize_thumbnail",
    # Oracle recomputes the exact box average over the closed-form 48x48
    # gradient fixture (shared with l45/l45b): out channel =
    # (block_sum + 4) // 9 — pure integer nearest (ties impossible, 9
    # odd). The twin perturbation at (3,3) lands in out cell (1,1).
    sql="""
    WITH ids AS (
      SELECT doc_id FROM documents WHERE doc_id < 16
      UNION ALL
      SELECT doc_id + 1000 FROM documents WHERE doc_id < 16
    ),
    cell AS (SELECT CAST(c.range AS BIGINT) AS i FROM range(16) c),
    off AS (SELECT CAST(o.range AS BIGINT) AS o FROM range(3) o),
    px AS (
      SELECT d.doc_id, ci.i AS oy, cj.i AS ox,
             ci.i * 3 + dy.o AS y, cj.i * 3 + dx.o AS x
      FROM ids d
      CROSS JOIN cell ci CROSS JOIN cell cj
      CROSS JOIN off dy CROSS JOIN off dx
    ),
    chan AS (
      SELECT doc_id, oy, ox,
             ((doc_id % 1000) * 37 % 200 + (y * 255) // 48 + (x * 128) // 48)
               % 256 AS g,
             (doc_id >= 1000 AND y = 3 AND x = 3) AS pert
      FROM px
    ),
    sums AS (
      SELECT doc_id, oy, ox,
             SUM(CASE WHEN pert THEN (g + 16) % 256 ELSE g END) AS sr,
             SUM((g * 2) % 256) AS sg,
             SUM((g * 3) % 256) AS sb
      FROM chan GROUP BY doc_id, oy, ox
    )
    SELECT doc_id, CAST(oy AS INT) AS y, CAST(ox AS INT) AS x,
           CAST((sr + 4) // 9 AS INT) AS r,
           CAST((sg + 4) // 9 AS INT) AS g,
           CAST((sb + 4) // 9 AS INT) AS b
    FROM sums
    """,
    tier="T3",
    survey="L8,J4",
)
def l8l_resize_thumbnail(spark, sf_dir):
    """Thumbnailing for vision-training prep, oracle-EXACT: the 48x48
    planted-twin gradient corpus (the l45 fixture) box-downscales 3x to
    16x16 through multimodal.thumbnail_box (integer-nearest block means,
    PPM re-encode), then a second decode stage re-reads the resized
    bytes and emits every output pixel — real bytes cross the Arrow
    boundary twice, and all 256 positions x 32 images compare against
    the closed-form block sums."""
    import pandas as pd

    ids = _phash_fixture_ids(spark, sf_dir)
    encoded = ids.mapInPandas(_phash_fixture_encode, "doc_id long, payload binary")
    assets = multimodal.to_multimodal(
        encoded, "doc_id", "payload", "image/x-portable-pixmap"
    )
    small = multimodal.thumbnail_box(assets, 16, 16)

    def pixels(batches):
        for pdf in batches:
            rows = []
            for aid, frame in zip(pdf["asset_id"], pdf["frame"]):
                w, h, px = multimodal.decode_ppm(bytes(frame))
                for y in range(h):
                    for x in range(w):
                        rows.append(
                            (int(aid), y, x, int(px[y, x, 0]),
                             int(px[y, x, 1]), int(px[y, x, 2]))
                        )
            yield pd.DataFrame(
                rows, columns=["doc_id", "y", "x", "r", "g", "b"]
            )

    return small.mapInPandas(
        pixels, "doc_id long, y int, x int, r int, g int, b int"
    )


def _srp_sketch_cte() -> str:
    """(vec_id, srp) sketches for ALL embeddings — the l73 oracle body
    reshaped as a reusable CTE (same literal plane matrix)."""
    body = _srp_sql()
    # strip the trailing SELECT into a named CTE: reuse the WITH q AS ... body
    return f"sk AS ({body})"


@query(
    "l75_srp_multiprobe_topk",
    # Multi-probe candidates declaratively: a corpus row is probed iff
    # SOME band is within 1 bit of the query's band (the query-side
    # 1-flip key expansion = band-Hamming <= 1, stated directly here);
    # then the Hamming <= 6 gate and the rounded-cosine re-rank.
    sql=f"""
    WITH {_srp_sketch_cte()},
    qs AS (SELECT vec_id AS q_id, srp AS qsrp FROM sk WHERE vec_id <= 5),
    cand AS (
      SELECT DISTINCT q.q_id, c.vec_id, q.qsrp, c.srp AS csrp
      FROM qs q JOIN sk c
        ON bit_count(xor(q.qsrp % 256, c.srp % 256)) <= 1
        OR bit_count(xor(q.qsrp // 256, c.srp // 256)) <= 1
    ),
    gated AS (
      SELECT q_id, vec_id FROM cand
      WHERE bit_count(xor(qsrp, csrp)) <= 6
    ),
    scored AS (
      SELECT g.q_id, g.vec_id,
             ROUND(list_cosine_similarity(
               CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 6)
               AS score
      FROM gated g
      JOIN embeddings c ON c.vec_id = g.vec_id
      JOIN embeddings q ON q.vec_id = g.q_id
    )
    SELECT q_id, vec_id, score,
           CAST(row_number() OVER (PARTITION BY q_id
                                   ORDER BY score DESC, vec_id) AS INT) AS rnk
    FROM scored QUALIFY rnk <= 5
    """,
    tier="T3",
    survey="L3,L2,H8,H6,E5",
)
def l75_srp_multiprobe_topk(spark, sf_dir):
    """Multi-probe SRP-LSH ANN top-5 (Lv et al. 2007): l74's pipeline
    with the query side additionally probing every 1-bit-flipped band
    key — the recall of many hash tables at the storage/shuffle cost of
    one, and the flip expansion lives ONLY on the tiny broadcast query
    side. Measured on the anisotropic recall fixture: noise 0.04 lifts
    recall@10 from ~0.7 to ~0.95 (tests/test_search.py). Like l74,
    every stage is value-reproducible, so the whole multi-probe pipeline
    is oracle-checked."""
    emb = T(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return similarity.srp_ann_multiprobe(emb, queries, k=5)


@query(
    "l74_srp_ann_topk",
    # Every stage recomputed declaratively: sketches (literal plane
    # matrix), 2x8-bit band equality joins, Hamming<=4 gate
    # (bit_count(xor)), rounded-cosine re-rank, top-5 per query.
    sql=f"""
    WITH {_srp_sketch_cte()},
    qs AS (SELECT vec_id AS q_id, srp AS qsrp FROM sk WHERE vec_id <= 5),
    cand AS (
      SELECT DISTINCT q.q_id, c.vec_id, q.qsrp, c.srp AS csrp
      FROM qs q JOIN sk c
        ON (q.qsrp % 256) = (c.srp % 256)
        OR (q.qsrp // 256) = (c.srp // 256)
    ),
    gated AS (
      SELECT q_id, vec_id FROM cand
      WHERE bit_count(xor(qsrp, csrp)) <= 4
    ),
    scored AS (
      SELECT g.q_id, g.vec_id,
             ROUND(list_cosine_similarity(
               CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 6)
               AS score
      FROM gated g
      JOIN embeddings c ON c.vec_id = g.vec_id
      JOIN embeddings q ON q.vec_id = g.q_id
    )
    SELECT q_id, vec_id, score,
           CAST(row_number() OVER (PARTITION BY q_id
                                   ORDER BY score DESC, vec_id) AS INT) AS rnk
    FROM scored QUALIFY rnk <= 5
    """,
    tier="T3",
    survey="L3,L2,H8,H6,E5",
)
def l74_srp_ann_topk(spark, sf_dir):
    """ANN top-5 via SRP-LSH banding, oracle-checked END TO END — the
    first fully value-reproducible approximate-nearest-neighbor path
    (similarity.srp_ann_topk): deterministic sketches → 2 band equality
    joins (union of hash joins, never all-pairs) → Hamming ≤ 4 gate →
    exact rounded-cosine re-rank of survivors. l3b/l3c remain the
    seeded-hash variants (rows-only by family); this query certifies the
    ANN pipeline SHAPE itself against SQL."""
    emb = T(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return similarity.srp_ann_topk(emb, queries, k=5)
