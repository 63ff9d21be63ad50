"""Streaming sources (SURVEY.md §2.A9): directory-as-unbounded-stream.

The fixture layout stores each table as a single parquet FILE
(``{sf_dir}/events.parquet``), but Spark's file stream source requires a
directory (``basePath must be a directory``). We pass a glob that matches
exactly that file — globs are legal stream source paths and sidestep the
basePath check without copying fixture data.

At 100 TB scale the same reader points at a growing directory partitioned
by arrival date; ``maxFilesPerTrigger`` bounds per-batch work and
``latestFirst`` trades completeness for freshness. Nothing in the
transformations changes — they are pure DataFrame functions applied
identically to ``spark.read`` and ``spark.readStream`` inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from oeem_etl_spark.catalog import canonicalize, table_path
from oeem_etl_spark.session import configure


def _glob_for(path: str) -> str:
    """Turn ``.../events.parquet`` into a glob matching only that file."""
    assert path.endswith(".parquet")
    return path[: -len("t")] + "[t]"


# path -> parquet footer schema. Every streaming query pays a driver-side
# footer read + file listing (~90 ms) to pin its source schema; fixture
# dirs are immutable (same argument as catalog._TABLE_CACHE), so cache it.
_SCHEMA_CACHE: dict[str, object] = {}


def file_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Unbounded-stream view of a fixture table (schema pinned from the
    batch footer — stream sources cannot infer)."""
    configure(spark)
    path = table_path(sf_dir, table)
    schema = _SCHEMA_CACHE.get(path)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[path] = schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(_glob_for(path))


def events_stream(spark: SparkSession, sf_dir: str, **kw) -> DataFrame:
    """Streaming ``events`` with the batch catalog's timestamp
    canonicalization (catalog.canonicalize)."""
    return canonicalize(file_stream(spark, sf_dir, "events", **kw))
