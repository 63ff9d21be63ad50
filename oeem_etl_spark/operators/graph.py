"""Link-graph centrality (SURVEY.md §2.L10): fixed-iteration PageRank as
pure DataFrame power iteration — the web-graph quality signal corpus
pipelines attach to documents (crawl frontiers, CommonCrawl-style harmonic
/ PageRank scores feeding quality filters).

Spark-first shape: each iteration is ONE shuffle — `ranks ⋈ edges` on
``src`` (contributions fan out map-side along the edge partitioning) into
a map-combinable ``SUM`` on ``dst`` — exactly the iterative-join pattern
of the MinHash connected-components operator (dedup.py), and the standard
scale shape for billion-edge graphs (partition edges by src; ranks are the
small, re-shuffled side). ``checkpoint_every`` truncates lineage with
``localCheckpoint`` so deep iteration counts don't stack analysis cost.

Determinism (SURVEY.md §7.4 trap #1): the per-node contribution sum is
quantized to ``scale`` decimals and accumulated as BIGINT micros — the
same order-independent trick as plans/util.dsum — so ranks are
bit-identical across partitionings, engines, and reruns, and the operator
is DuckDB-oracle-able with mirrored layered-CTE SQL (m2 query).

Semantics: damping ``d``; nodes with no in-edges get the teleport term
``(1−d)/N``; every node in ``nodes`` (or, when nodes is None, every
endpoint of ``edges``) holds rank mass. Dangling-node mass (out-degree 0)
is dropped, not redistributed — the common simplification (GraphX's
default `staticPageRank` does the same); ranks then sum to ≤1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oeem_etl_spark.functions.fixedpoint import qlong


def pagerank(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    iterations: int = 3,
    damping: float = 0.85,
    scale: int = 12,
    checkpoint_every: int = 0,
) -> DataFrame:
    """Fixed-iteration PageRank → (node, rank) with deterministic ranks.

    ``edges`` must have columns (src, dst); duplicate edges are collapsed
    (distinct) so parallel edges don't double-send mass. ``nodes`` (one
    ``node`` column) fixes the vertex set; derived from edge endpoints
    when omitted. ``scale`` is the quantization for the order-independent
    contribution sum (12 decimals holds rank mass exactly for graphs up
    to ~10^6 nodes; beyond that drop to 9 — the bound is |sum of
    micros| < 2^63).
    """
    from pyspark.storagelevel import StorageLevel

    # The edge set is referenced by EVERY iteration's contribution join
    # plus outdeg/nodes — unpersisted, each reference re-executes the
    # caller's whole edge-building subtree (the r9 plan audit measured
    # m82's 2-iteration plan at 63 edge-subtree scans / 126 exchanges).
    # Persist once, truncate the final lineage, release (the
    # label_propagation discipline, graph.py:205).
    e = edges.select("src", "dst").distinct().persist(StorageLevel.MEMORY_AND_DISK)
    if nodes is None:
        nodes = (
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .distinct()
        )
    nodes = nodes.select("node")

    # (1-d)/N as a broadcast 1-row frame (text.py's scalar-subquery
    # pattern) — no driver-side count(), N stays inside the plan.
    n_frame = nodes.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    outdeg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("double").alias("outdeg")
    )

    m = 10**scale
    ranks = (
        nodes.crossJoin(F.broadcast(n_frame))
        .select("node", (F.lit(1.0) / F.col("__n")).alias("rank"))
    )
    for i in range(iterations):
        contribs = (
            ranks.join(F.broadcast(outdeg), "node")
            .join(e, ranks["node"] == e["src"])
            .select(
                F.col("dst").alias("node"),
                qlong(F.col("rank") / F.col("outdeg"), m).alias(
                    "__micros"
                ),
            )
            .groupBy("node")
            .agg(F.sum("__micros").alias("__sum_micros"))
        )
        ranks = (
            nodes.crossJoin(F.broadcast(n_frame))
            .join(contribs, "node", "left")
            .select(
                "node",
                (
                    (F.lit(1.0) - damping) / F.col("__n")
                    + damping
                    * (F.coalesce(F.col("__sum_micros"), F.lit(0)) / F.lit(float(m)))
                ).alias("rank"),
            )
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    # materialize before releasing the edge cache (same shape as
    # label_propagation's exit): the returned frame's lineage is a
    # checkpoint scan, not iterations-deep join layers.
    ranks = ranks.localCheckpoint(eager=True)
    e.unpersist()
    return ranks


def sql_pagerank(
    edges_cte: str,
    iterations: int = 3,
    damping: float = 0.85,
    scale: int = 12,
    out_scale: int = 9,
) -> str:
    """DuckDB mirror of :func:`pagerank` as layered CTEs (the m2 oracle).

    ``edges_cte`` is a SQL body producing (src, dst); the generated SQL
    repeats the Spark expression structure exactly — same quantization,
    same coalesce, same operation order — so doubles agree bit-for-bit.
    """
    m = 10**scale
    d = damping
    sql = [
        f"WITH e AS (SELECT DISTINCT src, dst FROM ({edges_cte})),",
        " nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),",
        " nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS __n FROM nd),",
        " outdeg AS (SELECT src AS node, CAST(COUNT(*) AS DOUBLE) AS outdeg"
        " FROM e GROUP BY src),",
        f" r0 AS (SELECT node, 1.0 / __n AS rank FROM nd, nn),",
    ]
    for i in range(iterations):
        sql.append(
            f" c{i + 1} AS (SELECT e.dst AS node,"
            f" SUM(CAST(ROUND(r.rank / o.outdeg * {m}) AS BIGINT)) AS s"
            f" FROM r{i} r JOIN outdeg o ON r.node = o.node"
            f" JOIN e ON r.node = e.src GROUP BY e.dst),"
        )
        sql.append(
            f" r{i + 1} AS (SELECT nd.node,"
            f" (1.0 - {d}) / nn.__n + {d} * (COALESCE(c.s, 0) / {m}.0) AS rank"
            f" FROM nd CROSS JOIN nn LEFT JOIN c{i + 1} c ON nd.node = c.node),"
        )
    sql[-1] = sql[-1].rstrip(",")
    sql.append(
        f" SELECT node, ROUND(rank, {out_scale}) AS rank FROM r{iterations}"
        " ORDER BY node"
    )
    return "\n".join(sql)


def triangles(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Triangle enumeration on an undirected graph — the clustering/
    community signal next to :func:`pagerank`. Returns one row per
    triangle as (a, b, c) with a < b < c.

    Standard ordered-edge strategy: canonicalize every edge to
    (lo, hi), dedupe, then join edge(a,b) ⋈ edge(b,c) ⋈ edge(a,c) with
    a < b < c — each triangle is produced exactly once (no 6× blowup,
    no post-dedup). Two equi-join shuffles over the (deduped) edge set;
    at scale, orienting edges from lower- to higher-degree endpoints
    bounds the candidate wedges (the degree-ordered refinement) — the
    a<b<c total order used here is the value-ordered special case.
    """
    s = F.col(src)
    d = F.col(dst)
    e = (
        edges.select(F.least(s, d).alias("lo"), F.greatest(s, d).alias("hi"))
        .where(F.col("lo") != F.col("hi"))
        .distinct()
    )
    ab = e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    bc = e.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    ac = e.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    return ab.join(bc, "b").join(ac, ["a", "c"]).select("a", "b", "c")


def label_propagation(
    edges: DataFrame,
    rounds: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan,
    Albert & Kumara 2007, Phys. Rev. E 76) — deterministic variant:
    every node starts labeled with its own id; each round relabels every
    node with the label most frequent among its neighbors, ties broken
    by the smallest label. Returns (node, label) after ``rounds``.

    The async/random-order LPA is nondeterministic by design; the
    synchronous min-tie-break form used here is engine-reproducible, so
    a fixed round count is fully oracle-checkable (the DuckDB twin
    unrolls rounds into CTEs — plans/scale_queries.py).

    Scale: per round, one join of the undirected edge list against the
    label table (both keyed by node) and one (node, label) count-argmax
    aggregate — two shuffles per round over edge-sized data, the same
    shape as pagerank's; lineage is checkpoint-truncated per round.
    Sublinear rounds (LPA converges in ~5 rounds on social-scale graphs)
    beat CC-style propagation when communities, not components, are the
    target.
    """
    from pyspark.storagelevel import StorageLevel

    s, d = F.col(src), F.col(dst)
    und = edges.select(s.alias("u"), d.alias("v")).where(s != d)
    # the edge list is reused every round — materialize it once instead of
    # re-deriving the upstream build per iteration
    und = (
        und.union(und.select(F.col("v"), F.col("u")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = und.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(rounds):
        counts = (
            und.join(
                labels.withColumnRenamed("node", "v"), "v"
            )  # neighbor labels of u
            .groupBy(F.col("u").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        from pyspark.sql import Window

        w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("label"))
        labels = (
            counts.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("node", "label")
            .localCheckpoint()
        )
    # the final labels are materialized by the eager localCheckpoint above,
    # so the cached edge list is no longer needed — release it rather than
    # accumulating cached plans across calls in one session
    und.unpersist()
    return labels
