"""Z-order (Morton) clustering for multi-dimensional data skipping.

Parquet scans skip row groups whose min/max column statistics exclude the
query predicate. A sort on one column gives perfect skipping on that
column and none on others; interleaving the bits of two bucketized columns
(the Morton curve) clusters rows so that BOTH columns' min/max ranges are
narrow within each row group — box predicates on either or both dimensions
skip most of the file. This is the same idea behind Delta/Iceberg
Z-ORDER/OPTIMIZE, built here from plain Spark expressions:

- :func:`write_zordered` — bucketize two columns into [0, 2^``bits``),
  key rows by :func:`~oeem_etl_spark.operators.layout.zorder_key`,
  range-partition + sort by the key, write parquet. Range partitioning
  keeps the curve contiguous across files so file-level stats prune too,
  not just row groups.

At 100 TB this is a layout decision made once per table at write time;
readers need no code change — pruning happens in the parquet reader from
footer statistics.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from oeem_etl_spark.operators.layout import zorder_key


def _bucket(c: Column, lo: Column, hi: Column, bits: int) -> Column:
    """Scale a value into [0, 2^bits) given per-column min/max bounds."""
    span = (hi - lo).cast("double")
    scaled = F.when(
        span > 0,
        ((c.cast("double") - lo.cast("double")) / span * ((1 << bits) - 1)),
    ).otherwise(F.lit(0.0))
    return F.least(
        F.greatest(F.floor(scaled).cast("long"), F.lit(0)), F.lit((1 << bits) - 1)
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    bits: int = 16,
    n_files: int = 4,
    small_row_groups: bool = False,
) -> None:
    """Write ``df`` parquet clustered on the Morton curve of two columns.

    Bounds for bucketization are computed in the same job via window-free
    scalar aggregation (one extra pass over the two columns — cheap next
    to the write). ``small_row_groups`` shrinks parquet row groups so
    pruning granularity is visible on KB-scale test data; production keeps
    the default ~128 MB groups.
    """
    if len(cols) != 2:
        raise ValueError(f"write_zordered clusters on exactly 2 columns, got {len(cols)}")
    a, b = (F.col(c) for c in cols)
    bounds = df.agg(
        F.min(a).alias("__alo"),
        F.max(a).alias("__ahi"),
        F.min(b).alias("__blo"),
        F.max(b).alias("__bhi"),
    )
    with_key = (
        df.crossJoin(F.broadcast(bounds))
        .withColumn("__za", _bucket(a, F.col("__alo"), F.col("__ahi"), bits))
        .withColumn("__zb", _bucket(b, F.col("__blo"), F.col("__bhi"), bits))
        .withColumn("__zkey", zorder_key(["__za", "__zb"], bits))
        .drop("__alo", "__ahi", "__blo", "__bhi", "__za", "__zb")
    )
    out = (
        with_key.repartitionByRange(n_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
    )
    w = out.write.mode("overwrite")
    if small_row_groups:
        w = w.option("parquet.block.size", str(8 * 1024)).option(
            "parquet.page.size", str(2 * 1024)
        )
    w.parquet(path)
