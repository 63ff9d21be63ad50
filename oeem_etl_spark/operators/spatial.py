"""Spatial nearest-neighbor join (K-ext): match every point to its
closest site — the reference domain's site↔weather-station mapping step,
generalized to any (point table, site table) pair on integer planar
coordinates.

Why not a cross join: at 100 TB the point side is the fact table
(meters/sites) and a cross join against even 10k stations multiplies the
scan by 10k. The scalable shape is GRID BLOCKING: bucket both sides into
square cells of side ``cell``, join each point's cell against the 3×3
neighborhood of site cells (an equi-join on the cell key — broadcast when
the site side is small, shuffle-partitioned when it is not), and take the
per-point minimum. Candidate count per point is bounded by the site
density × 9 cells, independent of total size.

EXACTNESS: grid blocking alone is a heuristic — the true nearest site can
sit outside the 3×3 window whenever the best in-window candidate is far.
This operator is exact anyway, via the standard guarantee: a point
anywhere in cell C is at distance ≥ ``cell`` from every site outside C's
3×3 neighborhood (they are separated by at least one full empty cell side
along some axis). So a grid winner with d² < cell² is PROVABLY the global
nearest; points with no in-window candidate, or whose best candidate has
d² ≥ cell², fall back to an exact broadcast scan against the full site
table. The fallback population is geometry-bounded (isolated points
only) — on realistic densities it is a thin tail, and the result equals
brute force EXACTLY for every point, which is what the oracle checks.

Determinism: distances are exact 64-bit integer arithmetic on integer
coordinates (micro-degree convention; no trig, no doubles), and distance
ties break on the smaller site key via a lexicographic struct min — the
same total order in any engine.

No UDFs, no driver-side collect; every stage is a JVM-side equi-join or
partial-aggregable group-by. The per-point minimum is a lexicographic
struct min, which Spark plans as a partial-then-final SortAggregate
(struct buffers are not hash-aggregable); with ~9 candidates per point
the per-partition sort is trivial, and the exchange still carries one
row per point. Encoding (d2, key) into one long would buy HashAggregate
at the cost of a coordinate-range precondition — not worth it until the
candidate fan-out is much larger than the 3×3 design point.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _cell(coord: Column, cell: int) -> Column:
    # floor division that is correct for negatives (long coords are far
    # below 2^52, so the double floor is exact)
    return F.floor(coord / F.lit(float(cell))).cast("long")


def _d2(px: Column, py: Column, sx: Column, sy: Column) -> Column:
    dx = px.cast("long") - sx.cast("long")
    dy = py.cast("long") - sy.cast("long")
    return (dx * dx + dy * dy).alias("d2")


def grid_nn_join(
    points: DataFrame,
    sites: DataFrame,
    point_key: str,
    site_key: str,
    px: str = "x",
    py: str = "y",
    sx: str = "x",
    sy: str = "y",
    cell: int = 200_000,
    broadcast_sites: bool = True,
) -> DataFrame:
    """Exact nearest-site per point: (point_key, nearest_site, d2).

    ``cell`` trades candidate volume against fallback volume: smaller
    cells mean fewer candidates per point but more sub-``cell``-distance
    misses that take the exact fallback. Set it near the typical
    point-to-nearest-site distance.

    ``broadcast_sites`` hints the candidate join AND feeds the fallback;
    set False when the site table is too large to broadcast — the
    candidate join then shuffles on the cell key and the fallback (which
    genuinely needs all sites per unresolved point) should be avoided by
    choosing ``cell`` above the expected nearest distance.
    """
    p = points.select(
        F.col(point_key).alias("__pk"),
        F.col(px).cast("long").alias("__px"),
        F.col(py).cast("long").alias("__py"),
    )
    s = sites.select(
        F.col(site_key).alias("__sk"),
        F.col(sx).cast("long").alias("__sx"),
        F.col(sy).cast("long").alias("__sy"),
    )
    # site side exploded to its 3×3 neighbor cells: 9 rows per site, so a
    # point joining its OWN cell sees every site in the surrounding block
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    # both offsets ride ONE explode of the 9-struct array (two separate
    # explodes would square the fan-out)
    s_cells = s.select(
        "__sk", "__sx", "__sy", F.explode(offsets).alias("__o")
    ).select(
        "__sk",
        "__sx",
        "__sy",
        (_cell(F.col("__sx"), cell) + F.col("__o.dx")).alias("__cx"),
        (_cell(F.col("__sy"), cell) + F.col("__o.dy")).alias("__cy"),
    )
    if broadcast_sites:
        s_cells = F.broadcast(s_cells)
    p_cells = p.select(
        "__pk",
        "__px",
        "__py",
        _cell(F.col("__px"), cell).alias("__cx"),
        _cell(F.col("__py"), cell).alias("__cy"),
    )
    # min_by with a (d2, key) ordering struct instead of min(struct):
    # MinBy is a DeclarativeAggregate, so the per-point minimum runs as
    # a partial-then-final HashAggregate instead of the SortAggregate a
    # struct-min buffer forces (r9 measurement: ~8% end-to-end, larger
    # at bigger candidate fan-outs). The ordering struct is tie-free
    # (site keys are unique), so the winner is identical.
    d2c = _d2(F.col("__px"), F.col("__py"), F.col("__sx"), F.col("__sy"))
    best = F.min_by(
        F.struct(d2c.alias("d2"), F.col("__sk")),
        F.struct(d2c.alias("d2"), F.col("__sk")),
    ).alias("__best")
    grid_best = (
        p_cells.join(s_cells, ["__cx", "__cy"]).groupBy("__pk").agg(best)
    )
    # r9: grid_best feeds BOTH the sure-winner filter and (via the
    # anti-join) the fallback's unresolved set — without a persist the
    # whole candidate join + aggregate executed twice (plan-verified:
    # 10 scans / duplicated exchanges in the k34 plan). One row per
    # point, spillable; like the other pipeline intermediates it stays in
    # the session's cache manager until unpersist() or clearCache(), and
    # a later build of the same plan reads it.
    from pyspark.storagelevel import StorageLevel

    grid_best = grid_best.persist(StorageLevel.MEMORY_AND_DISK)
    # provably-global winners: closer than one full cell side
    sure = grid_best.where(F.col("__best.d2") < F.lit(cell * cell))
    unsure = p.join(sure.select("__pk"), "__pk", "left_anti")
    fallback = (
        unsure.crossJoin(F.broadcast(s) if broadcast_sites else s)
        .groupBy("__pk")
        .agg(best)
    )
    return (
        sure.unionByName(fallback)
        .select(
            F.col("__pk").alias(point_key),
            F.col("__best.__sk").alias("nearest_site"),
            F.col("__best.d2").alias("d2"),
        )
    )
