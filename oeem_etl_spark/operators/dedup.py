"""Deduplication operators for training-data pipelines (SURVEY.md §2.L1-L2).

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard dedup — all JVM-side
(hash/array/higher-order expressions, no Python UDFs). Scale posture:

- exact: one shuffle on a 128-bit digest (uniform keys, no skew);
- MinHash: signatures via ONE groupBy with per-permutation min-aggs
  (map-side combinable); LSH banding turns O(N²) pair search into
  bucket-local joins — the only quadratic step is within-bucket, bounded
  by bucket size;
- SimHash: 64 bit-count aggregates in one pass, then bucket by prefix.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from oeem_etl_spark.catalog import local_frame
from oeem_etl_spark.operators.relational import dedupe_keep_latest_by


def normalize_text(col: Column | str) -> Column:
    """Canonical text form for near-exact dedup: lowercase, collapse
    whitespace, strip."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def exact_dedup(df: DataFrame, text_col: str, key: str) -> DataFrame:
    """Drop normalized-text duplicates, keeping the smallest key (L1).

    Digest-first: the shuffle carries (md5, key) only — at 100 TB the
    text bytes never move, because the window runs on the digest column.
    """
    hashed = df.withColumn("__digest", F.md5(normalize_text(text_col)))
    return dedupe_keep_latest_by(
        hashed, keys=["__digest"], order_cols=[key], keep="min"
    ).drop("__digest")


def digest_index(df: DataFrame, text_col: str) -> DataFrame:
    """The persisted dedup index for :func:`incremental_dedup`: one 32-hex
    md5 digest per distinct normalized text. At 100 TB this is the ONLY
    state the dedup pipeline keeps between snapshots — a compact digest
    table (16 bytes/doc of entropy), never the text itself; store it
    bucketed by digest so successive anti joins are co-located."""
    return df.select(F.md5(normalize_text(text_col)).alias("digest")).distinct()


def incremental_dedup(
    new_df: DataFrame, seen: DataFrame, text_col: str, key: str
) -> DataFrame:
    """Dedup a NEW batch against an already-accepted corpus (L1 extension —
    the production crawl-snapshot shape: each increment dedups within
    itself and against everything previously accepted, without re-reading
    accepted text).

    ``seen`` is a :func:`digest_index` frame (column ``digest``). Two
    steps, both digest-keyed so text bytes never shuffle:

    1. within-batch exact dedup (smallest ``key`` survives);
    2. left-anti join against ``seen`` on the digest.

    The union of ``seen`` and the survivors' digests is the next round's
    index — the caller owns persisting it (append-only table).
    """
    hashed = new_df.withColumn("__digest", F.md5(normalize_text(text_col)))
    batch_kept = dedupe_keep_latest_by(
        hashed, keys=["__digest"], order_cols=[key], keep="min"
    )
    return (
        batch_kept.join(
            seen.withColumnRenamed("digest", "__digest"), "__digest", "left_anti"
        ).drop("__digest")
    )


def shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """Token k-shingles (distinct) from an ALREADY-MATERIALIZED token array
    column. Pass a real column, not a `split(...)` expression: an
    expression referenced inside the `transform` lambda is re-evaluated
    per output element — measured 3× slower on the fixture corpus."""
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    # k scalar element gets + one concat_ws instead of slice()+array-join
    # (r9): drops the per-shingle sub-array allocation inside the
    # interpreted lambda — interleaved noop A/B at sf0.1: min 0.67 →
    # 0.46 s on the shingle build (medians within noise). Only worth it at
    # tiny widths like k=3: interpreted eval cost is per expression node,
    # so at n=5 it's a wash and at window=50 it's 2× SLOWER (see
    # text.ngrams_from_tokens / duplicate_window_spans notes). Lossless:
    # concat_ws's scalar form skips NULL args exactly like its array form
    # skips NULL elements (and split() never yields NULLs), and every
    # get() index is in-bounds for i ≤ n-k.
    return F.array_distinct(
        F.when(
            n >= k,
            F.transform(
                idx,
                lambda i: F.concat_ws(" ", *[F.get(toks, i + j) for j in range(k)]),
            ),
        ).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def shingles(col: Column | str, k: int = 3) -> Column:
    """Token k-shingles as an array of strings (distinct). Convenience form
    for small inputs/tests; hot paths should materialize the token column
    and call :func:`shingles_from_tokens` (see note there)."""
    c = F.col(col) if isinstance(col, str) else col
    return shingles_from_tokens(F.split(c, " "), k)


# Deterministic multiply-add universal hashing mod the Mersenne prime
# 2^31-1: (h mod P) * a + b stays below 2^62, so the arithmetic is exact
# under Spark 4's ANSI mode (which *throws* on long overflow — wraparound
# mixing is not an option). Constants derived from golden-ratio multiples,
# folded into the plan as literals.
_MERSENNE_P = (1 << 31) - 1
_GOLDEN = 0x9E3779B97F4A7C15
_PERM_A = [((p + 1) * _GOLDEN) % (_MERSENNE_P - 1) + 1 for p in range(256)]
_PERM_B = [((p + 1) * 0xC2B2AE3D27D4EB4F) % _MERSENNE_P for p in range(256)]


def shingle_sets(df: DataFrame, key: str, text_col: str, shingle_k: int = 3) -> DataFrame:
    """(key, __set): the distinct token-k-shingle array per document —
    the shared upstream of signatures AND exact-Jaccard verification
    (r9: computed once and reused; it previously re-derived 3× inside
    minhash_lsh_dedup — once for signatures, once per verify join side)."""
    toks = df.select(F.col(key), F.split(F.col(text_col), " ").alias("__toks"))
    return toks.select(
        F.col(key), shingles_from_tokens(F.col("__toks"), shingle_k).alias("__set")
    )


def _minhash_perm_gen(num_perm: int):
    """mapInPandas generator: (key, __hs: array<bigint>) → (key, minhash).

    Exact numpy twin of the ``array_min(transform(__hs, h*A_p+B_p mod P))``
    expression form (kept below as the definitional reference): per
    permutation p, the min over the document's hash multiset of
    (h·A_p + B_p) mod P. h ∈ [0, P) with P = 2³¹−1 and A_p < P, so
    h·A_p + B_p < 2⁶² — exact int64 on both engines, no overflow, and min
    is order-free, so the values are bit-identical to the Catalyst form
    (pinned by tests/test_dedup.py).

    Why a kernel (guide §4.2): Catalyst higher-order functions are
    CodegenFallback — the 64 permutations ran as 64 interpreted passes
    with a 2-int-op lambda per element (the same finding that moved the
    clustering/PQ family to Arrow kernels). Here the whole batch is one
    (Σ shingles × num_perm) vectorized multiply-add + segmented min
    (np.minimum.reduceat), chunked to bound the scratch matrix.

    NULL semantics match Catalyst exactly: NULL or empty hash array →
    every slot NULL (array_min of NULL/empty is NULL); NULL elements are
    skipped (array_min skips NULLs), all-NULL → NULL slots.
    """
    import numpy as np
    import pandas as pd

    A = np.asarray(_PERM_A[:num_perm], dtype=np.int64)
    B = np.asarray(_PERM_B[:num_perm], dtype=np.int64)
    P = np.int64(_MERSENNE_P)
    # bound the (chunk shingles × num_perm) int64 scratch to ~64 MB
    max_chunk = max(1, (8 << 20) // num_perm)

    def gen(batches):
        for pdf in batches:
            arrs: list = []
            for v in pdf["__hs"]:
                if v is None or (np.isscalar(v) and pd.isna(v)):
                    arrs.append(None)
                    continue
                a = np.asarray(v)
                if a.dtype.kind not in "iu":
                    # NULL elements arrive as objects/NaN — array_min
                    # skips NULLs, so drop them before the min
                    a = np.asarray(
                        [x for x in v if x is not None and not pd.isna(x)],
                        dtype=np.int64,
                    )
                else:
                    a = a.astype(np.int64, copy=False)
                arrs.append(a if a.size else None)
            out: list = [None] * len(arrs)
            sizes = np.fromiter(
                ((a.size if a is not None else 0) for a in arrs),
                np.int64,
                count=len(arrs),
            )
            valid = np.nonzero(sizes > 0)[0]
            if valid.size:
                flat = np.concatenate([arrs[i] for i in valid])
                bounds = np.concatenate(
                    (np.zeros(1, np.int64), np.cumsum(sizes[valid]))
                )
                s = 0
                while s < valid.size:
                    e = s + 1
                    while (
                        e < valid.size
                        and bounds[e + 1] - bounds[s] <= max_chunk
                    ):
                        e += 1
                    seg = flat[bounds[s] : bounds[e]]
                    m = (seg[:, None] * A[None, :] + B[None, :]) % P
                    rel = (bounds[s:e] - bounds[s]).astype(np.intp)
                    mins = np.minimum.reduceat(m, rel, axis=0)
                    for row_i, mv in zip(valid[s:e], mins):
                        out[row_i] = mv
                    s = e
            yield pd.DataFrame({"__key": pdf["__key"], "minhash": out})

    return gen


def minhash_signatures(
    df: DataFrame,
    key: str,
    text_col: str,
    num_perm: int = 64,
    shingle_k: int = 3,
    hash_fn=None,
    sets: DataFrame | None = None,
    use_kernel: bool = True,
) -> DataFrame:
    """Per-document MinHash signature: array<bigint> of length ``num_perm``.

    MAP-ONLY: signatures involve NO explode, NO shuffle, and NO
    aggregation — at cluster scale this removes the pipeline's largest
    exchange (the former explode + num_perm-min-aggregate shuffle grew
    with corpus size; now the first exchange anywhere is the tiny LSH
    bucket join). The permuted mins run, by default, as one vectorized
    numpy kernel over the JVM-hashed shingle arrays
    (:func:`_minhash_perm_gen` — r9, guide §4.2: the ``array_min(
    transform(...))`` form is CodegenFallback, num_perm interpreted
    passes per document). ``use_kernel=False`` keeps that expression
    form — the definitional reference the kernel is tested against,
    value-identical by construction.

    Each shingle is hashed ONCE (xxhash64 → mod Mersenne prime) into an
    intermediate array column; the num_perm permuted mins are multiply-add
    universal hashes of those values (two integer ops each). The values
    are identical to the former aggregate formulation — min over the same
    multiset — so LSH banding and all downstream results are unchanged.
    ``hash_fn`` (shingle string Column -> int Column in [0, P)) defaults to
    xxhash64 mod the Mersenne prime — fastest JVM-side. Pass an
    oracle-expressible family (e.g. md5-hex-prefix; plans/llm_queries l2b)
    when the signatures must be reproducible by an external SQL engine.
    """
    if hash_fn is None:
        hash_fn = lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE_P))  # noqa: E731
    sh = (
        sets.select(F.col(key), F.col("__set").alias("__sh"))
        if sets is not None
        else shingle_sets(df, key, text_col, shingle_k).select(
            F.col(key), F.col("__set").alias("__sh")
        )
    )
    hs = sh.select(
        F.col(key),
        F.transform("__sh", hash_fn).alias("__hs"),
    )
    if use_kernel:
        # r9 (guide §4.2): the shingle hash stays JVM-side (xxhash64 is
        # native there), but the num_perm permuted mins move to one
        # vectorized numpy kernel — the HOF form below is CodegenFallback,
        # i.e. num_perm interpreted array passes per document. Map-only
        # either way (no shuffle; only (key, __hs) crosses the boundary);
        # values bit-identical (see _minhash_perm_gen proof + tests).
        key_dt = dict(sh.dtypes)[key]
        return (
            hs.select(F.col(key).alias("__key"), "__hs")
            .mapInPandas(
                _minhash_perm_gen(num_perm),
                f"__key {key_dt}, minhash array<bigint>",
            )
            .withColumnRenamed("__key", key)
        )
    return hs.select(
        F.col(key),
        F.array(
            *[
                F.array_min(
                    F.transform(
                        "__hs",
                        lambda h: F.pmod(
                            h * F.lit(_PERM_A[p]) + F.lit(_PERM_B[p]),
                            F.lit(_MERSENNE_P),
                        ),
                    )
                )
                for p in range(num_perm)
            ]
        ).alias("minhash"),
    )


def lsh_candidate_pairs(
    sigs: DataFrame, key: str, bands: int = 16, num_perm: int = 64,
    hash_buckets: bool = True,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs.

    Returns distinct (key_a, key_b) with key_a < key_b. The band explode is
    ``bands`` rows per doc; the self-join is bucket-local (equi-join on
    (band, bucket_hash)), which Catalyst executes as a shuffled hash join —
    no cartesian anywhere.

    ``hash_buckets=False`` keeps the raw comma-joined band values as the
    bucket key instead of xxhash64-ing them: lossless (no bucket
    collisions, so candidates = exact band-equality pairs) and
    reproducible by an external SQL engine; the string keys are wider on
    the wire, so the default stays hashed.
    """
    rows_per_band = num_perm // bands

    # NOTE (r9, measured): unrolling these bands-many bucket expressions
    # into a posexplode(array(...)) of straight-line concat_ws(get...)
    # trees — hoping to escape the interpreted transform() — ran 4× SLOWER
    # (interleaved noop A/B, min 0.32 → 1.16 s at sf0.1): Generate
    # evaluates its generator expression per row in interpreted mode
    # either way, and the unrolled CreateArray tree has far more
    # expression nodes than transform's slice+join body. Keep this form.
    def _bucket(b):
        s = F.concat_ws(
            ",",
            F.transform(
                F.slice(F.col("minhash"), b * rows_per_band + 1, rows_per_band),
                lambda v: v.cast("string"),
            ),
        )
        return F.xxhash64(s) if hash_buckets else s

    banded = sigs.select(
        F.col(key),
        F.posexplode(
            F.transform(F.sequence(F.lit(0), F.lit(bands - 1)), _bucket)
        ).alias("band", "bucket"),
    )
    a = banded.select(F.col(key).alias("key_a"), "band", "bucket")
    b = banded.select(F.col(key).alias("key_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b")
        .distinct()
    )


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    key: str,
    text_col: str,
    shingle_k: int = 3,
    max_pairs: int | None = None,
    sets: DataFrame | None = None,
) -> DataFrame:
    """Attach exact shingle-set Jaccard to candidate pairs (verify step).

    ``sets`` (optional): a pre-computed (key, __set) shingle frame
    (:func:`shingle_sets`) — pass the persisted one from the pipeline so
    tokenize+shingle is not re-derived per join side.

    ``pairs`` MUST come from a bucketed candidate generator
    (:func:`lsh_candidate_pairs`, :func:`simhash_near_pairs`) or another
    bounded source — this function joins the text of BOTH sides onto every
    pair, so feeding it an unbounded all-pairs frame is a silent O(N²)
    blow-up at scale. Pass ``max_pairs`` to enforce that contract with a
    runtime count guard (one cheap job over the pair frame; raises
    ValueError when exceeded)."""
    if max_pairs is not None:
        n = pairs.count()
        if n > max_pairs:
            raise ValueError(
                f"jaccard_verify: {n} candidate pairs exceeds max_pairs="
                f"{max_pairs}; use a bucketed candidate generator "
                "(lsh_candidate_pairs / simhash_near_pairs), not all-pairs"
            )
    if sets is None:
        sets = shingle_sets(df, key, text_col, shingle_k)
    j = (
        pairs.join(sets.withColumnRenamed(key, "key_a").withColumnRenamed("__set", "__sa"), "key_a")
        .join(sets.withColumnRenamed(key, "key_b").withColumnRenamed("__set", "__sb"), "key_b")
    )
    # |A∪B| = |A| + |B| − |A∩B| (shingle sets are distinct arrays), so
    # one array_intersect replaces intersect + union — same integers,
    # same double division (r9, the prefix_filter_jaccard_join finding).
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("double")
    union = (F.size("__sa") + F.size("__sb")).cast("double") - inter
    return j.select(
        "key_a", "key_b", (inter / union).alias("jaccard")
    )


def minhash_lsh_dedup(
    df: DataFrame,
    key: str,
    text_col: str,
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    cc_iterations: int | None = None,
    persist_intermediate: bool = True,
) -> DataFrame:
    """Full near-dup pipeline (L2): shingle → MinHash → LSH bands →
    candidate pairs → exact-Jaccard verify → connected components →
    keep smallest key per cluster. Returns the deduplicated DataFrame.

    Connected components use min-label propagation run TO CONVERGENCE by
    default (each round ends with a cheap has-any-label-changed probe;
    propagation needs O(cluster diameter) rounds and near-dup clusters are
    overwhelmingly tiny, so this is 2-3 rounds in practice — a safety cap
    of 50 guards pathological chain-shaped clusters). Pass
    ``cc_iterations`` to bound rounds explicitly. At 100 TB each round is
    two joins over the verified pair set, which is orders of magnitude
    smaller than the corpus.

    ``persist_intermediate`` (default True) caches the signature and
    candidate frames (MEMORY_AND_DISK): the band self-join consumes the
    signatures from BOTH sides and the verify join re-reads candidates,
    so without the cache the minhash computation runs ~3× — measured
    4.4 → 1.8 s end-to-end at sf0.1. Signatures are num_perm ints per
    doc (far smaller than the corpus). The cached frames stay in the
    session's cache manager until ``unpersist()`` or ``clearCache()``,
    and a later build of the same plan reads them.
    """
    from pyspark.storagelevel import StorageLevel

    max_rounds = 50 if cc_iterations is None else cc_iterations
    # r9: the shingle-set frame is the shared upstream of BOTH the
    # signatures and the exact-Jaccard verify joins (two sides) — compute
    # it once and persist, instead of re-tokenizing+re-shingling the
    # corpus three times (measured: shingling is ~0.4 s of the 1.6 s
    # signature stage at sf0.1, and verify paid it twice more). Same
    # MEMORY_AND_DISK posture and lifetime as the other intermediates
    # (held until unpersist() or clearCache()); size ∝ corpus shingles,
    # spillable.
    sets = shingle_sets(df, key, text_col, shingle_k)
    if persist_intermediate:
        sets = sets.persist(StorageLevel.MEMORY_AND_DISK)
    sigs = minhash_signatures(df, key, text_col, num_perm, shingle_k, sets=sets)
    if persist_intermediate:
        sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    cand = lsh_candidate_pairs(sigs, key, bands, num_perm)
    if persist_intermediate:
        cand = cand.persist(StorageLevel.MEMORY_AND_DISK)
    verified = jaccard_verify(df, cand, key, text_col, shingle_k, sets=sets).where(
        F.col("jaccard") >= threshold
    )

    # hybrid CC is the default: min-label probe rounds win on the
    # tiny-diameter graphs near-dup verification produces (star
    # contraction measured ~1.5-2x slower wall-clock there at every
    # probed scale/regime), while the
    # contraction fallback on the quotient keeps O(log d) rounds for
    # adversarial chain topology — same (node, label=component-min)
    # contract either way, so results are identical
    labels = connected_components_hybrid(
        verified.select("key_a", "key_b"), max_rounds=max_rounds
    )
    # survivors: cluster representative (label == node) or never-clustered
    doomed = labels.where(F.col("node") != F.col("label")).select(
        F.col("node").alias(key)
    )
    return df.join(doomed, [key], "left_anti")


def connected_components(
    pairs: DataFrame, max_rounds: int = 50, stats: dict | None = None
) -> DataFrame:
    """Min-label propagation over an undirected edge list (key_a, key_b).

    Returns (node, label) where label is the minimum key reachable from
    the node — the cluster representative. Runs until no label changes or
    ``max_rounds``. Each round's result is localCheckpoint'ed: without
    lineage truncation round k re-executes all k-1 previous joins
    (measured 20 s → 6 s on sf0.1).

    ONE job per round: the changed flag is computed inside the round's own
    join (no separate old-vs-new probe join), the checkpoint is lazy, and
    the convergence count is the action that materializes it — at 100 TB
    every eliminated job is a full scheduler round-trip per round.

    Round count is O(min-label-distance): the label travels ONE HOP per
    round, so a path/chain component needs O(diameter) rounds. Near-dup
    clusters are overwhelmingly tiny (diameter ≤ 3), which is why this is
    the default; for adversarial topology (long chains) use
    :func:`connected_components_contraction` — O(log) rounds.

    ``stats`` (optional dict) receives {"rounds": n} — the probe/test
    hook for asserting round-count behavior.
    """
    # undirected edges, both directions. The edge set is orders of
    # magnitude smaller than the corpus (only verified near-dup pairs) —
    # materialize it once so the iteration never re-runs upstream plans.
    edges = pairs.select(
        F.col("key_a").alias("src"), F.col("key_b").alias("dst")
    ).union(pairs.select(F.col("key_b").alias("src"), F.col("key_a").alias("dst")))
    edges = edges.distinct().localCheckpoint(eager=True)

    # label propagation: label(node) = min(label(node), min(label(neighbors)))
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    rounds = 0
    for _ in range(max_rounds):
        rounds += 1
        neigh = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        new_label = F.least(F.col("label"), F.coalesce("nlabel", F.col("label")))
        new_labels = (
            labels.join(neigh, labels.node == neigh.src, "left")
            .select(
                "node",
                new_label.alias("label"),
                (new_label < F.col("label")).alias("__changed"),
            )
            .localCheckpoint(eager=False)
        )
        # this count materializes the (lazy) checkpoint AND answers the
        # convergence question — one job per round, not two
        changed = new_labels.where(F.col("__changed")).count()
        labels = new_labels.drop("__changed")
        if changed == 0:  # converged — clusters are overwhelmingly tiny
            break
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = changed == 0
    return labels


def _driver_union_find(pairs: DataFrame, rows, stats: dict | None) -> DataFrame:
    """Exact union-find over a bounded, already-collected edge list —
    the small-graph fast path of :func:`connected_components_hybrid`.

    Path-compressed, union-by-min-root so the representative is always
    the component-minimum key (longs compare identically in Python and
    Spark; strings compare by code point in Python and by UTF-8 bytes in
    Spark, which induce the same total order). Result is a set of
    (node, label) rows, independent of edge iteration order.
    """
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # attach the larger root under the smaller: the root stays
            # the component minimum at every step
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra

    out = sorted((node, find(node)) for node in parent)
    if stats is not None:
        stats.update(
            {"rounds": 0, "converged": True, "driver_union_find": True}
        )
    spark = pairs.sparkSession
    from pyspark.sql.types import StructField, StructType

    fields = {f.name: f for f in pairs.schema.fields}
    schema = StructType(
        [
            StructField("node", fields["key_a"].dataType, True),
            StructField("label", fields["key_a"].dataType, True),
        ]
    )
    return local_frame(spark, out, schema)


def connected_components_hybrid(
    pairs: DataFrame,
    probe_rounds: int = 3,
    max_rounds: int = 50,
    stats: dict | None = None,
    driver_edge_limit: int = 200_000,
) -> DataFrame:
    """Adaptive CC: min-label propagation for up to ``probe_rounds``; if
    it converges (the overwhelmingly common near-dup case — clusters have
    diameter ≤ 3), that IS the answer at min-label's cost, which
    measured as the cheapest round shape on verified-pair edge lists at
    1× and 10× scale (star contraction paid ~1.5-2× more wall-clock on
    these tiny-diameter graphs).
    If it does NOT converge — chain-like topology, where min-label would
    need O(diameter) rounds — the partial labels define a QUOTIENT graph
    (each edge maps to its endpoints' current labels; everything within
    ``probe_rounds`` hops of a local minimum has already collapsed) and
    :func:`connected_components_contraction` finishes on that strictly
    smaller graph in O(log d) rounds. Composition preserves the contract:
    a node's partial label is reachable from it, so quotient components
    equal original components, and the component minimum labels itself
    through every min-label round — final label = component min, exactly
    :func:`connected_components`' and the contraction's semantics.

    **Driver union-find fast path (r10).** The verified near-dup edge set
    is orders of magnitude smaller than the corpus, and every distributed
    round costs 2 joins + a scheduler round-trip regardless of edge count
    — at sf0.1 the l50 edge set is 256 edges paying ~8 Spark jobs. When
    the (distinct) edge count is ≤ ``driver_edge_limit`` the labels are
    computed by an exact union-find on the driver instead: one
    materialization of the edge plan, one bounded collect, one
    ``createDataFrame`` back. Same contract — label = component-minimum
    key, nodes = all edge endpoints — and the result is independent of
    edge order, so it equals the distributed variants row-for-row (test-
    pinned). Above the limit (or if any endpoint is NULL, which the
    driver path does not model) the distributed path runs unchanged, so
    scale behaviour is preserved: the limit bounds driver memory the way
    the BPE merge loop's vocab bound does, and 200k edges ≈ a few MB.
    Set ``driver_edge_limit=0`` to force the distributed path.

    ``stats`` receives {"rounds": probe rounds used, "converged": bool,
    "contraction_rounds": n} (the last key only when the fallback ran);
    the driver path reports {"rounds": 0, "converged": True,
    "driver_union_find": True}.
    """
    if driver_edge_limit > 0:
        edges = pairs.select("key_a", "key_b").distinct().localCheckpoint(
            eager=True
        )
        if edges.count() <= driver_edge_limit:
            rows = edges.collect()
            if not any(r[0] is None or r[1] is None for r in rows):
                return _driver_union_find(pairs, rows, stats)
        # too large (or NULL endpoints): continue distributed on the
        # already-materialized distinct edge set — the probe work is not
        # wasted, every downstream pass reuses the checkpointed edges
        pairs = edges
    st: dict = {}
    labels = connected_components(pairs, max_rounds=probe_rounds, stats=st)
    if stats is not None:
        stats.update(st)
    if st.get("converged"):
        return labels
    # quotient graph over current labels; strictly smaller than the input
    edges = pairs.select(
        F.col("key_a").alias("__qa"), F.col("key_b").alias("__qb")
    )
    la = labels.select(
        F.col("node").alias("__qa"), F.col("label").alias("key_a")
    )
    lb = labels.select(
        F.col("node").alias("__qb"), F.col("label").alias("key_b")
    )
    q = (
        edges.join(la, "__qa")
        .join(lb, "__qb")
        .where(F.col("key_a") != F.col("key_b"))
        .select("key_a", "key_b")
    )
    cst: dict = {}
    comp = connected_components_contraction(q, max_rounds=max_rounds, stats=cst)
    if stats is not None:
        stats["contraction_rounds"] = cst.get("rounds", 0)
    return (
        labels.join(
            comp.withColumnRenamed("label", "__final").withColumnRenamed(
                "node", "label"
            ),
            "label",
            "left",
        )
        .select(
            "node", F.coalesce("__final", F.col("label")).alias("label")
        )
    )


def connected_components_contraction(
    pairs: DataFrame, max_rounds: int = 50, stats: dict | None = None
) -> DataFrame:
    """Connected components by large-star/small-star contraction (the
    MapReduce CC algorithm of Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14 — public knowledge): alternate

    - **large-star**: every node connects its LARGER neighbors to the
      minimum of its closed neighborhood, and
    - **small-star**: every node connects its smaller-or-equal neighbors
      (plus itself) to that minimum,

    until the edge set is a fixpoint — a forest of stars whose centers
    are the component minima. Both phases are one groupBy + one explode
    (shuffle ∝ edge count), and the edge set only ever shrinks toward
    the star forest, so memory is bounded by the input edges.

    Converges in O(log d) rounds on a diameter-d component, vs
    O(d) for :func:`connected_components`' one-hop label propagation —
    the difference between 14 rounds and 10,000 on a 10k-node chain
    (asserted in tests/test_scale_ops.py). Same (node, label) contract;
    prefer this variant when cluster topology is unknown or chain-like
    (e.g. transitive near-dup chains at 100 TB).

    Fixpoint detection: the round's new edge set is compared by
    (count, sum of per-edge xxhash64) signature — one aggregate action
    per phase, no extra join; a signature collision would need two
    distinct edge multisets with equal count and equal 64-bit hash sum
    (probability ~2^-64 per round, ignorable next to float tolerances
    elsewhere).
    """
    nodes = (
        pairs.select(F.col("key_a").alias("node"))
        .union(pairs.select(F.col("key_b").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # canonical orientation (u > v), self-loops dropped
    edges = (
        pairs.select(F.col("key_a").alias("a"), F.col("key_b").alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    def signature(e: DataFrame):
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal accumulator: a long sum of 64-bit hashes overflows
            # (ANSI would raise); the edge set is small, one agg per round
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    sig = signature(edges)
    rounds = 0
    for _ in range(max_rounds):
        rounds += 1
        # large-star over the bidirected neighborhood
        bidir = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        grouped = bidir.groupBy("u").agg(F.collect_set("v").alias("nbrs"))
        mstar = F.array_min(F.array_union("nbrs", F.array(F.col("u"))))
        large = (
            grouped.select(
                F.explode(
                    F.filter("nbrs", lambda x: x > F.col("u"))
                ).alias("lu"),
                mstar.alias("lv"),
            )
            .where(F.col("lu") != F.col("lv"))
            .select(
                F.greatest("lu", "lv").alias("u"), F.least("lu", "lv").alias("v")
            )
            # no .distinct() here: the small-star collect_set below dedups
            # neighbors anyway — an explicit distinct is a whole extra
            # shuffle per round for nothing
        )
        # small-star over the (max -> min) oriented edges
        g2 = large.groupBy("u").agg(F.collect_set("v").alias("nbrs"))
        m2 = F.array_min(F.array_union("nbrs", F.array(F.col("u"))))
        small = (
            g2.select(
                F.explode(F.array_union("nbrs", F.array(F.col("u")))).alias("su"),
                m2.alias("sv"),
            )
            .where(F.col("su") != F.col("sv"))
            .select(
                F.greatest("su", "sv").alias("u"), F.least("su", "sv").alias("v")
            )
            .distinct()
            .localCheckpoint(eager=False)
        )
        new_sig = signature(small)  # materializes the lazy checkpoint
        edges = small
        if new_sig == sig:
            break
        sig = new_sig
    if stats is not None:
        stats["rounds"] = rounds
    # star forest: every non-center u has exactly one edge (u, center)
    labels = edges.groupBy("u").agg(F.min("v").alias("label"))
    return nodes.join(labels, nodes.node == labels.u, "left").select(
        "node", F.coalesce("label", F.col("node")).alias("label")
    )


def simhash(
    df: DataFrame, key: str, text_col: str, bits: int = 64, hash_fn=None
) -> DataFrame:
    """SimHash per document: sign-sum of token-hash bits (L2 family).

    One explode + one groupBy with ``bits`` conditional sums; the signature
    is reassembled arithmetically (shift-add below 2^62, ANSI-overflow safe
    via 32-bit halves; for ``bits`` <= 32 the high half is 0).

    ``hash_fn`` (token Column -> non-negative int Column with >= ``bits``
    usable bits) defaults to xxhash64; pass an oracle-expressible hash
    (md5-hex-prefix, plans/llm_queries l2c) for cross-engine-checkable
    signatures.
    """
    ex = df.select(F.col(key), F.explode(F.split(F.col(text_col), " ")).alias("__t"))
    h = hash_fn(F.col("__t")) if hash_fn is not None else F.xxhash64("__t")
    sums = ex.groupBy(key).agg(
        *[
            F.sum(
                F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"__b{i}")
            for i in range(bits)
        ]
    )
    # assemble two 32-bit halves to stay far from BIGINT overflow (ANSI mode)
    lo = F.lit(0).cast("bigint")
    hi = F.lit(0).cast("bigint")
    for i in range(min(bits, 32)):
        bit_lo = F.when(F.col(f"__b{i}") > 0, 1).otherwise(0).cast("bigint")
        lo = lo + bit_lo * F.lit(1 << i).cast("bigint")
    for i in range(32, bits):
        bit_hi = F.when(F.col(f"__b{i}") > 0, 1).otherwise(0).cast("bigint")
        hi = hi + bit_hi * F.lit(1 << (i - 32)).cast("bigint")
    return sums.select(
        F.col(key), lo.alias("simhash_lo"), hi.alias("simhash_hi")
    )


def simhash_near_pairs(
    sim: DataFrame, key: str, max_hamming: int = 3, bits: int = 64
) -> DataFrame:
    """Candidate near-dup pairs by SimHash: bucket on contiguous bit bands
    of the signature, then verify Hamming distance ≤ ``max_hamming``
    within buckets. Band count is ``max(4, max_hamming + 1)`` — the
    pigeonhole guarantee (≤ h differing bits ⇒ with h + 1 bands at least
    one band is bit-identical) makes recall EXACT for any ``max_hamming``,
    not just the classic 4-quarter h ≤ 3 regime. ``bits`` must match the
    signature width; supported widths are 32 and 64 (the two-half
    simhash_lo/simhash_hi layout). Bands may straddle the 32-bit halves:
    the signature is reassembled into one 64-bit value first, and band
    extraction uses an unsigned shift so the sign bit never leaks into a
    bucket id."""
    if bits not in (32, 64):
        raise ValueError(f"bits must be 32 or 64, got {bits}")
    n_bands = min(max(4, max_hamming + 1), bits)
    full = (
        F.shiftleft(F.col("simhash_hi"), 32).bitwiseOR(F.col("simhash_lo"))
        if bits == 64
        else F.col("simhash_lo")
    )
    bounds = [q * bits // n_bands for q in range(n_bands + 1)]

    def _band(q: int):
        start, width = bounds[q], bounds[q + 1] - bounds[q]
        return F.shiftrightunsigned(full, start).bitwiseAND(F.lit((1 << width) - 1))

    quarters = sim.select(
        F.col(key),
        "simhash_lo",
        "simhash_hi",
        F.posexplode(F.array(*[_band(q) for q in range(n_bands)])).alias("q", "qval"),
    )
    a = quarters.select(
        F.col(key).alias("key_a"),
        F.col("simhash_lo").alias("lo_a"),
        F.col("simhash_hi").alias("hi_a"),
        "q",
        "qval",
    )
    b = quarters.select(
        F.col(key).alias("key_b"),
        F.col("simhash_lo").alias("lo_b"),
        F.col("simhash_hi").alias("hi_b"),
        "q",
        "qval",
    )
    ham = F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b"))) + F.bit_count(
        F.col("hi_a").bitwiseXOR(F.col("hi_b"))
    )
    return (
        a.join(b, ["q", "qval"])
        .where(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def prefix_filter_jaccard_join(
    df: DataFrame,
    key: str,
    text_col: str,
    threshold: float,
    shingle_k: int = 3,
    persist_postings: bool = True,
) -> DataFrame:
    """EXACT Jaccard-threshold self-join via prefix filtering (the
    AllPairs/PPJoin family) — the exact counterpart to MinHash-LSH: same
    shingle-set similarity, but candidate generation is LOSSLESS, so the
    output equals the brute-force quadratic join row-for-row with no
    recall gap to tune.

    The filter: order every document's shingle set by ascending corpus
    frequency (rarest first; ties on the shingle string — any fixed total
    order works, contiguous global ranks are NOT needed, which is what
    keeps this window-free at the vocabulary level). For a set of size s
    and threshold t, any partner with Jaccard ≥ t must hit one of the
    first p = s − ⌈t·s⌉ + 1 shingles: a qualifying pair shares
    |A∩B| ≥ t·|A∪B| ≥ ⌈t·s⌉ members, which cannot fit in the s − p =
    ⌈t·s⌉ − 1 non-prefix slots. Stronger (the two-sided AllPairs bound,
    proof at the candidate join below): the pair's order-minimal common
    shingle lies in BOTH prefixes, so the candidate join is PREFIX ⋈
    PREFIX — the posting index itself is prefix-only, and rarest-first
    ordering makes those postings the shortest in the corpus.

    Scale shape: one shuffle on the shingle for frequencies, one per-doc
    window (partitioned by document — no global window), one equi-join
    on the shingle key (bucketed by construction; the frequent shingles
    that would skew it are exactly the ones prefix ordering excludes),
    then the bounded verify join on the deduped candidate pairs. No
    cartesian anywhere; every qualifying pair is found, none invented.

    Returns ordered pairs (key_a < key_b) with exact ``jaccard`` ≥
    ``threshold``, rounded 6dp.

    ``persist_postings`` (default True) caches the shingle-set and
    posting frames (MEMORY_AND_DISK): the plan references them from
    three branches (frequencies, prefix, candidates) plus the verify
    join, and without the cache each branch re-runs the text scan +
    shingle explode — measured 12.5 → 6.7 s at sf0.1. The cached data
    is linear in corpus shingles and spills to disk; the entries stay in
    the session's cache manager until ``unpersist()`` or
    ``clearCache()``, and a later build of the same plan reads them.
    Disable to trade CPU for zero cache footprint when the corpus
    dwarfs cluster storage.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    k = F.col(key)
    # materialize the token array BEFORE the shingle lambda (see the
    # shingles_from_tokens note: a split() expression referenced inside
    # the transform lambda re-evaluates per output element — O(words²)
    # characters; CollapseProject keeps the two-step projection because
    # the non-cheap split is referenced many times). r9: this was the
    # single largest cost of the whole join — the shingle-build stage
    # dropped 2.25 → 0.9 s at sf0.1. shingles_from_tokens already
    # array_distincts, so no outer distinct is needed.
    sets = df.select(
        k.alias("__k"), F.split(F.col(text_col), " ").alias("__toks")
    ).select(
        "__k", shingles_from_tokens(F.col("__toks"), shingle_k).alias("__set")
    )
    if persist_postings:
        sets = sets.persist(StorageLevel.MEMORY_AND_DISK)
    # set size rides the explode as a plain int column — F.size of the
    # materialized array is free, where a count-over-partition window
    # was a second window pass over the postings (r9 optimization)
    toks = sets.select(
        "__k", F.size("__set").alias("__s"), F.explode("__set").alias("__tok")
    )
    if persist_postings:
        toks = toks.persist(StorageLevel.MEMORY_AND_DISK)
    freq = toks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    ranked = toks.join(freq, "__tok")
    w = Window.partitionBy("__k").orderBy("__df", "__tok")
    prefix = (
        ranked.select(
            "__k",
            "__tok",
            F.row_number().over(w).alias("__rn"),
            "__s",
        )
        .where(
            F.col("__rn")
            <= F.col("__s") - F.ceil(F.lit(threshold) * F.col("__s")) + 1
        )
        # r9: the candidate equi-join needs token EQUALITY only, so it
        # rides an 8-byte xxhash64 of the shingle instead of the string
        # (the ~25-byte shuffle key shrinks 3×). A hash collision can
        # only ADD a spurious candidate — the exact verify join below
        # filters on the true string sets, so results are unchanged.
        # __rn/__s stay aboard for the positional filter at the join.
        .select("__k", F.xxhash64("__tok").alias("__th"), "__rn", "__s")
    )
    if persist_postings:
        prefix = prefix.persist(StorageLevel.MEMORY_AND_DISK)
    # PREFIX ⋈ PREFIX, not prefix ⋈ full postings (r9 optimization): the
    # standard two-sided AllPairs guarantee — let c be the globally
    # smallest (by the same (__df, __tok) total order) member of A∩B for
    # a qualifying pair; if c were outside A's prefix, the ≥ p_A tokens
    # of A ordered before c would all be outside B (c is A∩B's minimum),
    # giving |A∩B| ≤ |A| − p_A = ⌈t·|A|⌉ − 1 < ⌈t·|A|⌉ ≤ |A∩B| — absurd;
    # symmetrically c is in B's prefix. So every qualifying pair shares
    # a PREFIX token on both sides and the join's right side shrinks
    # from all postings to prefix postings (the frequent shingles drop
    # from BOTH sides, so the posting-length skew cap tightens too).
    # Candidates remain a superset of qualifying pairs; the exact verify
    # below filters identically, so results are unchanged.
    # r9: PPJoin POSITIONAL filter on each prefix-token match. All common
    # tokens of a pair rank at-or-after the order-minimal common token c
    # in both documents' (__df, __tok) orders, so
    # |A∩B| ≤ 1 + min(s_a − rn_a(c), s_b − rn_b(c)); the largest Jaccard
    # the pair could reach is ub/(s_a + s_b − ub). j(i) = i/(c−i) is
    # monotone in i and double division is correctly rounded (monotone),
    # so pairs whose BOUND fails `>= threshold` under the exact verify
    # arithmetic below can never pass it — dropping them pre-distinct is
    # lossless; a qualifying pair always survives via c's match row.
    pa = prefix.select(
        F.col("__k").alias("__ka"), "__th",
        F.col("__rn").alias("__ra"), F.col("__s").alias("__na"),
    )
    pb = prefix.select(
        F.col("__k").alias("__kb"), "__th",
        F.col("__rn").alias("__rb"), F.col("__s").alias("__nb"),
    )
    ub = F.lit(1) + F.least(
        F.col("__na") - F.col("__ra"), F.col("__nb") - F.col("__rb")
    )
    cand = (
        pa.join(pb, "__th")
        .where(F.col("__ka") != F.col("__kb"))
        .where(
            ub.cast("double") / (F.col("__na") + F.col("__nb") - ub).cast("double")
            >= F.lit(threshold)
        )
        .select(
            F.least("__ka", "__kb").alias("key_a"),
            F.greatest("__ka", "__kb").alias("key_b"),
        )
        .distinct()
    )
    # verify: |A∪B| = |A| + |B| − |A∩B| (both sides are distinct arrays),
    # so one array_intersect replaces intersect + union — same integers,
    # same doubles, same rounded jaccard (r9).
    sa = sets.select(
        F.col("__k").alias("key_a"),
        F.col("__set").alias("__sa"),
        F.size("__set").alias("__za"),
    )
    sb = sets.select(
        F.col("__k").alias("key_b"),
        F.col("__set").alias("__sb"),
        F.size("__set").alias("__zb"),
    )
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("double")
    union = (F.col("__za") + F.col("__zb")).cast("double") - inter
    return (
        cand.join(sa, "key_a")
        .join(sb, "key_b")
        .where(inter / union >= F.lit(threshold))
        .select("key_a", "key_b", F.round(inter / union, 6).alias("jaccard"))
    )


def duplicate_window_spans(
    df: DataFrame,
    key: str,
    text_col: str,
    window: int = 50,
    min_docs: int = 2,
    hash_windows: bool = True,
) -> DataFrame:
    """Merged word-position spans of cross-document duplicated windows
    (SURVEY §2.L1-ext — the exact-substring dedup signal of Lee et al.
    2021, "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499, at fixed ``window``-word granularity).

    A window occurrence is *droppable* when its content appears in
    ``>= min_docs`` distinct documents AND this document is not the
    canonical copy (the smallest ``key`` holding that content keeps its
    occurrence). Droppable [start, end] word spans are merged per
    document (interval union), so the output is at most one row per
    maximal duplicated region: ``(key, span_start, span_end)``,
    0-based inclusive word positions.

    Scale shape: one posexplode of per-doc window keys, ONE hash agg on
    the window key (map-side combinable: min + count_distinct), one
    join-back on the same key, then a per-doc window function over the
    droppable spans only (bounded by duplicated volume, not corpus
    size). With ``hash_windows=True`` (production default) the shuffled
    key is an 8-byte xxhash64, never the window text; ``False`` keys on
    the raw window string — bit-exact (collision-free) and what the
    DuckDB oracle twins group on.
    """
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    # Materialize the token array BEFORE the transform: an expression
    # referenced inside the lambda is re-evaluated per output element, so
    # an inline split() here re-splits the full text once per window
    # position — O(words²) characters per document (the
    # shingles_from_tokens trap; fixing it here measured 0.21 → 0.07 s
    # on the l62b spans stage at sf0.1).
    toks = F.col("__toks")
    # NOTE (r9, measured): do NOT unroll this into window-many scalar
    # get()s — at window=50 the unrolled expression tree is ~2× slower
    # than one slice()+join (interpreted eval cost is per expression
    # node; the get form only wins at tiny widths, see
    # shingles_from_tokens).
    wtext = lambda i: F.concat_ws(" ", F.slice(toks, i + 1, window))  # noqa: E731
    wkey = (lambda i: F.xxhash64(wtext(i))) if hash_windows else wtext
    n = F.size(toks)
    wins = df.select(
        F.col(key).alias("__k"), F.split(F.col(text_col), " ").alias("__toks")
    ).select(
        "__k",
        F.posexplode(
            F.when(
                n >= window,
                F.transform(F.sequence(F.lit(0), n - window), wkey),
            ).otherwise(
                F.array().cast(
                    "array<bigint>" if hash_windows else "array<string>"
                )
            )
        ).alias("__s", "__w"),
    )
    canon = wins.groupBy("__w").agg(
        F.min("__k").alias("__canon"),
        F.count_distinct("__k").alias("__nd"),
    )
    droppable = (
        wins.join(canon, "__w")
        .where((F.col("__nd") >= min_docs) & (F.col("__k") != F.col("__canon")))
        .select("__k", "__s", (F.col("__s") + window - 1).alias("__e"))
    )
    from pyspark.sql import Window as W

    byk = W.partitionBy("__k").orderBy("__s")
    prev_max = F.max("__e").over(byk.rowsBetween(W.unboundedPreceding, -1))
    flagged = droppable.withColumn(
        "__new",
        F.when(prev_max.isNull() | (F.col("__s") > prev_max + 1), 1).otherwise(0),
    )
    return (
        flagged.withColumn("__island", F.sum("__new").over(byk))
        .groupBy("__k", "__island")
        .agg(
            F.min("__s").cast("long").alias("span_start"),
            F.max("__e").cast("long").alias("span_end"),
        )
        .select(F.col("__k").alias(key), "span_start", "span_end")
    )


def substring_dedup(
    df: DataFrame,
    key: str,
    text_col: str,
    window: int = 50,
    min_docs: int = 2,
    hash_windows: bool = True,
) -> DataFrame:
    """Rewrite each document with its duplicated windows removed
    (:func:`duplicate_window_spans` policy: the canonical smallest-key
    copy keeps its text; every other occurrence's merged span is cut).

    Adds columns ``text_deduped`` (surviving words re-joined with single
    spaces), ``n_words``, ``dup_words`` (positions removed). The span
    test runs as a higher-order ``filter(..., (word, i) -> ...)`` over a
    per-doc array of merged spans — JVM-side, no Python UDF, and the
    span array is small (duplicated regions only) so the join-back is a
    normal shuffle join keyed on ``key`` carrying a few ints per doc.
    """
    spans = duplicate_window_spans(
        df, key, text_col, window=window, min_docs=min_docs,
        hash_windows=hash_windows,
    )
    per_doc = spans.groupBy(key).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans"),
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias("dup_words"),
    )
    # Same lambda-re-evaluation trap as the spans pass: materialize the
    # token array and the coalesced span array as bound attributes, so
    # the per-word filter doesn't re-split the text (or re-coalesce the
    # span array) once per token.
    empty = F.array().cast("array<struct<span_start:bigint,span_end:bigint>>")
    out = (
        df.join(per_doc, key, "left")
        .withColumn("__toks", F.split(F.col(text_col), " "))
        .withColumn("__spansc", F.coalesce(F.col("__spans"), empty))
    )
    kept = F.filter(
        F.col("__toks"),
        lambda w, i: ~F.exists(
            F.col("__spansc"),
            lambda sp: (i >= sp["span_start"]) & (i <= sp["span_end"]),
        ),
    )
    return (
        out.withColumn("text_deduped", F.concat_ws(" ", kept))
        .withColumn("n_words", F.size(F.col("__toks")))
        .withColumn("dup_words", F.coalesce(F.col("dup_words"), F.lit(0)))
        .drop("__spans", "__spansc", "__toks")
    )
