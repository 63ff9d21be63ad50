"""SparkSession factory and the one owner of the engine's SQL settings.

``get_session`` launches the shared session; ``configure`` sets the
runtime SQL settings every step needs. ``catalog.load_table`` and
``streaming.source.file_stream`` call ``configure`` too, so a session
built elsewhere (the one ``__spark_entry__.entry`` is given, or a
``spark.newSession()``, whose SQL conf is separate) gets the same settings
on its first table load. The settings:

- ``nanosAsLong``: Spark cannot read parquet TIMESTAMP(NANOS)
  (PARQUET_TYPE_ILLEGAL); it reads int64 nanos and the catalog converts
  them to a microsecond TimestampType (DuckDB's ns→µs truncation).
- Session timezone pinned UTC: timestamp semantics must match the DuckDB
  oracle and be deterministic across machines.
- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  plan switching — the primary defense against skew at scale.
- ``spark.sql.shuffle.partitions`` = ``defaultParallelism`` (the core
  count locally). A bare session's 200 is pathological for iterative jobs
  (minhash-LSH connected components ran ~100 stages of 200 near-empty
  tasks each). There is no 8-partition floor: on a 4-core machine
  ``max(cores, 8)`` slowed the ``meter_ingest`` benchmark in all 5 of 5
  paired runs (pass 4.29 → 5.07 s, op p50 0.85 → 1.07 s, op p90 0.98 →
  1.20 s) and left ``meter_etl`` unchanged.
- Arrow on: every Python<->JVM crossing (pandas_udf, applyInPandas,
  toPandas) is columnar-batched instead of row-pickled.
- Parquet pushdown and vectorized reader, and ANSI mode: defaults, pinned
  so a parent environment cannot silently disable them. ANSI keeps the
  dsum/davg integer-micros aggregates' (plans/util.py) overflow check.

``configure`` runs once per SQL conf (a marker conf records it), so a
caller's later override of any of these sticks.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_MARKER = "spark.oeem.confsApplied"

_SQL_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
    "spark.sql.ansi.enabled": "true",
}


def configure(spark: SparkSession) -> None:
    """Set the engine's runtime SQL settings, once per SQL conf."""
    if spark.conf.get(_MARKER, None) == "true":
        return
    for key, value in _SQL_CONFS.items():
        spark.conf.set(key, value)
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    spark.conf.set(_MARKER, "true")


def get_session(app_name: str = "oeem_etl_spark", cpus: str | int | None = None) -> SparkSession:
    """Build (or reuse) the shared SparkSession on ``local[cpus]``.

    ``cpus`` defaults to the cores this process may run on. One session is
    amortized across an entire run — cold JVM start is ~7 s, warm queries
    are sub-second (BASELINE.md), so callers must never tear the session
    down between queries.
    """
    cpus = cpus or len(os.sched_getaffinity(0))
    # Half the machine's memory by default: with a fixed 48g the test
    # suite's JVM grew to 14.6 GB on a 15 GB machine and was OOM-killed.
    ram_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{ram_mb // 2}m"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Warehouse + metastore under tmp so bucketed saveAsTable works
        # without polluting the repo (static confs — first session wins).
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/oeem_spark_warehouse"),
        )
        .config(
            "spark.driver.extraJavaOptions",
            "-Dderby.system.home=/tmp/oeem_derby",
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    configure(spark)
    return spark
