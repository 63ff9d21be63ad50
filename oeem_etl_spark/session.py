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

``get_session`` also starts the pyspark workers from the engine's own
daemon (``worker_daemon``, set as ``spark.python.daemon.module``). Spark's
worker calls ``importlib.invalidate_caches()`` before every Python task,
and before CPython 3.13 that re-parses the central directory of every zip
archive on the worker's path (16 importers over ``pyspark.zip``, the py4j
zip and the spark-core jar). On a 4-vCPU machine under Python 3.11 that
cost 0.12-0.23 CPU-s per task (50 us with the daemon), and the workers'
CPU on a ``meter_ingest`` benchmark pass fell from 10.6 to 1.3 s. The
daemon re-reads an archive only when it changed on disk. Python 3.13's
``invalidate_caches`` only drops the cached directory, so there the
wrapper saves nothing. The directory holding the package goes on
``spark.executorEnv.PYTHONPATH``, because a worker that cannot import the
daemon fails every Python task.

``get_session`` also sizes the generated-code cache at launch:

- ``spark.sql.codegen.cache.maxEntries`` = 1000. The cache is JVM-wide
  and maps the source text of every class Catalyst's code generator
  writes (whole-stage pipelines, projections, orderings) to its compiled
  class, evicting the least recently used. One ``meter_etl`` benchmark
  pass needs 186 distinct classes; at Spark's default of 100 each pass
  evicted what the next one needed, and every warm pass compiled about
  170 classes again with Janino (10-12 ms each, about 2 s of a 7 s pass
  on 4 vCPUs). 1000 holds the per-pass sets of ``meter_etl``,
  ``corpus_curation`` and ``meter_ingest`` together (186 + 127 + 77)
  with room to spare. It stays a bound, not unbounded: running all 499
  registered queries once at sf0.01 makes about 5,000 distinct classes
  (5,015 in one run), and with nothing evicted metaspace then held
  258 MB.
  It is a static SQL conf, read when the cache is first used, so it is
  set in the builder and not in ``configure``; sessions built elsewhere
  keep the default of 100.
- ``spark.python.sql.dataFrameDebugging.enabled`` = false. PySpark 4 wraps
  every ``F.*`` function and ``Column`` operator so that it records the
  Python caller's ``file:line`` for ANSI error messages. Each wrapped call
  costs four py4j round trips (``getActiveSession``, a conf read of
  ``spark.sql.stackTracesInDataFrameContext``, and setting and clearing
  ``PySparkCurrentOrigin``), whether or not anything fails. One warm
  build of ``k23_calendarize`` sent 3,217 py4j commands with capture on
  and 937 with it off; the nine ``meter_etl`` queries together sent
  7,622 and 2,832. What an error loses is only the line under
  ``== DataFrame ==``: the exception class, the error condition and the
  message stay the same, but on ``id / 0`` that line names a JVM
  reflection frame instead of the Python caller. PySpark reads the
  setting once per process, on the first wrapped call made while a
  session is active, and keeps the answer
  (``pyspark.errors.utils._enable_debugging_cache``), so a runtime set
  after that would not take effect: it is set in the builder and not in
  ``configure``. Sessions built elsewhere keep capture on.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_MARKER = "spark.oeem.confsApplied"
# The directory that holds the oeem_etl_spark package.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

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
        .config("spark.python.daemon.module", "oeem_etl_spark.worker_daemon")
        # Static: the JVM-wide generated-code cache is sized on first use.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Read once per process, on the first Column call: see the docstring.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    configure(spark)
    return spark
