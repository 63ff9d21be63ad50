"""Distributed surrogate-key assignment (SURVEY §2 K-ext / M-family).

``dense_ids`` gives every distinct key a contiguous id 0..N-1 equal to its
rank in key order — WITHOUT the classic trap of
``row_number() OVER (ORDER BY key)``, whose empty PARTITION BY collapses
the whole table into one task. The standard two-phase idiom instead:

1. range-repartition the distinct keys into B ordered buckets (Spark's
   RangePartitioner assigns ascending key ranges to ascending partition
   ids, so bucket order ⇒ key order);
2. rank within each bucket (a bucket-local window — the shuffle key is
   the bucket id, so no task ever sees more than one bucket);
3. offset each bucket by the total count of all earlier buckets — a
   B-row aggregate windowed in a single trivial task and broadcast back.

The assigned ids are deterministic (global key rank) regardless of where
the sampled range boundaries land, so the operator is fully
oracle-checkable against ``row_number() OVER (ORDER BY key) - 1``.

``incremental_ids`` layers the production contract on top: keys already
present in an existing (key, id) mapping keep their ids; new keys get
dense ids appended after the current maximum — the dimension-table
surrogate-key upsert, reproducible at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def dense_ids(
    df: DataFrame,
    key: str,
    id_col: str = "id",
    buckets: int = 64,
    start: int = 0,
) -> DataFrame:
    """(key, id): contiguous ids ``start..start+N-1`` in key rank order.

    Caching contract: the distinct-key frame is persisted (MEMORY_AND_DISK)
    because both the per-bucket count and the final join re-evaluate it and
    the bucket assignment must not be recomputed differently between them.
    The returned frame still REFERENCES that cache, so it cannot be
    unpersisted here; the session's cache manager holds it until
    ``unpersist()`` or ``spark.catalog.clearCache()``, and a later build
    of the same plan reads it. Callers running many dense_ids builds in
    one long session should clearCache() between builds."""
    d = (
        df.select(key)
        .where(F.col(key).isNotNull())
        .distinct()
        .repartitionByRange(buckets, key)
        .withColumn("__b", F.spark_partition_id())
        # both downstream branches re-evaluate this frame; persist so the
        # bucket ids are computed once, not trusted to replay identically
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    per = d.groupBy("__b").agg(F.count(F.lit(1)).alias("__n"))
    # B rows: cumulative count of earlier buckets, single trivial task
    off = per.withColumn(
        "__off",
        F.coalesce(
            F.sum("__n").over(
                Window.orderBy("__b").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    ).select("__b", "__off")
    rn = F.row_number().over(Window.partitionBy("__b").orderBy(key))
    return (
        d.join(F.broadcast(off), "__b")
        .select(
            key,
            (F.col("__off") + rn - 1 + F.lit(start)).alias(id_col),
        )
    )


def incremental_ids(
    new_keys: DataFrame,
    existing: DataFrame,
    key: str,
    id_col: str = "id",
    buckets: int = 64,
) -> DataFrame:
    """Union of the existing (key, id) mapping with dense ids for unseen
    keys, appended after max(existing id). Existing ids never change —
    the surrogate-key stability contract. The unseen set is an anti-join
    (existing broadcast when dimension-sized); its ids come from
    :func:`dense_ids` started at max+1, so the whole result is still
    deterministic and engine-reproducible."""
    unseen = (
        new_keys.select(key)
        .where(F.col(key).isNotNull())
        .distinct()
        .join(existing.select(key), key, "left_anti")
    )
    base = existing.agg(
        F.coalesce(F.max(id_col) + 1, F.lit(0)).alias("__next")
    ).collect()[0]["__next"]
    fresh = dense_ids(unseen, key, id_col, buckets=buckets, start=int(base))
    return existing.select(key, id_col).unionByName(fresh)
