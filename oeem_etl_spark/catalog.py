"""Catalog: load the fixture parquet tables and register temp views.

The engine's tables (TESTDATA.md / FIXTURES.md): a TPC-H-ish star schema,
an ``events`` stream table, and the LLM-pipeline ``documents`` /
``embeddings`` tables. All reads are plain ``spark.read.parquet`` so
Catalyst gets predicate pushdown / column pruning / partition pruning for
free on every downstream query (SURVEY.md §4).
"""

from __future__ import annotations

import os
from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType, _make_type_verifier

from oeem_etl_spark.session import configure

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor.
BROADCAST_DIMS = ("region", "nation", "supplier")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# (session, sf_dir, table) -> DataFrame. A DataFrame is an immutable logical
# plan, so reuse is safe; rebuilding one costs ~90 ms of driver-side file
# listing + footer schema reads (measured), re-paid per table per query
# without this — exactly the metadata a production engine caches in its
# catalog. Fixture dirs are immutable, so no invalidation is needed.
_TABLE_CACHE: dict[tuple, DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    configure(spark)
    key = (spark, sf_dir, name)
    df = _TABLE_CACHE.get(key)
    if df is None:
        df = canonicalize(spark.read.parquet(table_path(sf_dir, name)))
        _TABLE_CACHE[key] = df
    return df


def local_frame(
    spark: SparkSession, rows: Iterable, schema: str | StructType
) -> DataFrame:
    """A DataFrame of driver-side ``rows`` under a DDL or ``StructType`` schema.

    The one way library code turns Python rows into a frame. Spark plans
    the result as a ``LocalRelation``: the rows travel to the JVM as one
    Arrow stream, and building and collecting the frame runs no Spark job.
    ``spark.createDataFrame(list, schema)`` instead parallelizes a pickled
    RDD and re-serializes it with a Python ``map``. Measured on a 4-vCPU
    ``get_session`` session, for a 3-row table: 0 jobs and 0 Python
    processes here, against 1 job, the pyspark daemon and 4 workers (350 MB
    of resident memory together) there. A ``LocalRelation`` also carries
    its true size, so the optimizer may broadcast it. Past
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB) Spark
    spreads the Arrow batches as a JVM-side RDD instead, still with no
    Python worker.

    Rows are checked exactly as ``createDataFrame`` checks them (wrong
    types, out-of-range integers, wrong row length and NULL in a
    non-nullable field raise) and converted by the schema's own
    ``toInternal``, so the frame equals ``createDataFrame(rows, schema)``.
    Two inputs that ``createDataFrame`` coerces raise here: a non-string
    value in a string column (it would be stringified), and a decimal with
    more fractional digits than its column's scale (it would be rounded).
    Works with Arrow off in the session conf, which gates only pandas
    conversions.
    """
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    if not isinstance(schema, StructType):
        raise TypeError(f"local_frame needs a struct schema, got {schema!r}")
    verify = _make_type_verifier(schema)
    internal = []
    for row in rows:
        verify(row)
        internal.append(schema.toInternal(row))
    arrow_schema = to_arrow_schema(schema)
    columns = [
        pa.array([row[i] for row in internal], type=field.type)
        for i, field in enumerate(arrow_schema)
    ]
    return spark.createDataFrame(
        pa.Table.from_arrays(columns, schema=arrow_schema), schema
    )


def canonicalize(df: DataFrame) -> DataFrame:
    """Normalize engine-unreadable physical types to the logical model.

    ``events.ts`` has shipped in two physical vintages:

    - parquet TIMESTAMP(NANOS), which Spark reads only as int64 nanos
      (session config ``nanosAsLong``); convert to a microsecond
      TimestampType — the same floor-truncation DuckDB applies when
      casting TIMESTAMP_NS to TIMESTAMP, so both engines see identical
      values.
    - parquet TIMESTAMP(MICROS) with isAdjustedToUTC=false, which Spark 4
      scans as TIMESTAMP_NTZ; the epoch/watermark/window surfaces
      (unix_micros, withWatermark, …) require TIMESTAMP, so cast. The
      session timezone is pinned UTC (session.configure), making the
      NTZ→LTZ cast value-exact and matching the oracle's NTZ reading.

    Works on batch and streaming DataFrames alike.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as Ty

    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, Ty.LongType):
            # integer DIV: float division would lose precision on epoch-ns
            df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        elif field.name == "ts" and isinstance(field.dataType, Ty.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view (SQL entry point, EP3)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
