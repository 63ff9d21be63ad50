"""File-format writers / sinks (SURVEY.md §2.A6-A7).

Parquet is the engine's at-rest format; ``partition_by`` should be a
low-cardinality date-ish key on big sinks so downstream scans get static +
dynamic partition pruning (SURVEY.md §4). CSV is the reference's
upload-format export analogue.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] = (),
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    header: bool = True,
) -> None:
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_orc(df: DataFrame, path: str, partition_by: Sequence[str] | None = None) -> None:
    """ORC sink (A-family extension)."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_sharded(
    df: DataFrame,
    path: str,
    max_records_per_file: int,
    order_by: Sequence[str] = (),
) -> list[tuple[str, int]]:
    """Training-shard writer: parquet files capped at
    ``max_records_per_file`` rows (Spark splits any task's output at the
    cap — no shuffle is added), optionally sorted WITHIN partitions first
    so same-key rows co-locate (run-length/dict encoding wins, and
    sequence-packed corpora keep pack order inside a shard).

    Returns the shard manifest [(file, rows)] read back from the written
    footers (one metadata-only scan — row counts come from parquet
    statistics, not a data pass). Downstream trainers consume the manifest
    for deterministic shard assignment; re-writes are overwrite-atomic at
    the directory level like every sink here.
    """
    out = df.sortWithinPartitions(*order_by) if order_by else df
    (
        out.write.mode("overwrite")
        .option("maxRecordsPerFile", str(max_records_per_file))
        .parquet(path)
    )
    spark = df.sparkSession
    from pyspark.sql import functions as F

    manifest = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("file"))
        .count()
        .collect()
    )
    return sorted((r["file"], r["count"]) for r in manifest)
