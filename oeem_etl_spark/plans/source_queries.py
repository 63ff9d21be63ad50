"""Declared source/sink queries (SURVEY.md §2.A).

Format roundtrips are oracle-checked WITHOUT the oracle touching our temp
files: the Spark side writes a subset to the format under test and reads
it back; the oracle simply selects the same subset from parquet. A lossless
roundtrip therefore hash-matches. Sink paths live under /tmp and are
overwritten on every run (re-run safe).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from oeem_etl_spark.catalog import local_frame
from oeem_etl_spark.plans.registry import query
from oeem_etl_spark.plans.util import T
from oeem_etl_spark.sources import manifest as mf
from oeem_etl_spark.sources import readers, writers

# pid-scoped (see streaming_queries._TMP): concurrent sweeps must not
# share sink directories.
_TMP = os.path.join(tempfile.gettempdir(), f"oeem_etl_spark_io_{os.getpid()}")


@query(
    "a2_csv_roundtrip",
    sql="""
    SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey <= 400
    """,
    tier="T2",
    survey="A2,A7",
)
def a2_csv_roundtrip(spark, sf_dir):
    """CSV sink + explicit-schema CSV scan; lossless for int/string/double
    (Spark writes shortest round-trip double repr)."""
    sub = (
        T(spark, sf_dir, "customer")
        .where(F.col("c_custkey") <= 400)
        .select("c_custkey", "c_name", "c_acctbal")
    )
    path = os.path.join(_TMP, "a2_csv")
    writers.write_csv(sub, path)
    return readers.scan_csv(
        spark, path, "c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE"
    )


@query(
    "a3_json_roundtrip",
    sql="""
    SELECT event_id, user_id, event_type, value FROM events WHERE event_id <= 400
    """,
    tier="T2",
    survey="A3",
)
def a3_json_roundtrip(spark, sf_dir):
    """ndjson sink + explicit-schema JSON scan."""
    sub = (
        T(spark, sf_dir, "events")
        .where(F.col("event_id") <= 400)
        .select("event_id", "user_id", "event_type", "value")
    )
    path = os.path.join(_TMP, "a3_json")
    sub.write.mode("overwrite").json(path)
    return readers.scan_json(
        spark, path, "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"
    )


@query(
    "a4_text_roundtrip",
    sql="""
    SELECT CAST(doc_id AS VARCHAR) || '|' || lang AS value
    FROM documents WHERE doc_id <= 300
    """,
    tier="T3",
    survey="A4",
)
def a4_text_roundtrip(spark, sf_dir):
    """Raw-line text sink + scan (the XML/log staging front door)."""
    lines = (
        T(spark, sf_dir, "documents")
        .where(F.col("doc_id") <= 300)
        .select(
            F.concat(F.col("doc_id").cast("string"), F.lit("|"), F.col("lang")).alias(
                "value"
            )
        )
    )
    path = os.path.join(_TMP, "a4_text")
    lines.write.mode("overwrite").text(path)
    return readers.scan_text(spark, path)


@query(
    "a6_parquet_sink_roundtrip",
    sql="""
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
    FROM orders WHERE o_orderkey <= 500
    """,
    tier="T2",
    survey="A6",
)
def a6_parquet_sink_roundtrip(spark, sf_dir):
    """Partitioned parquet sink + scan-back (partition column survives with
    identical values; timestamps lossless at µs)."""
    sub = (
        T(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 500)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    )
    path = os.path.join(_TMP, "a6_parquet")
    writers.write_parquet(sub, path, partition_by=["o_orderstatus"])
    back = readers.scan_parquet(spark, path)
    return back.select(
        "o_orderkey",
        F.col("o_orderstatus").cast("string").alias("o_orderstatus"),
        "o_totalprice",
        "o_orderdate",
    )


@query(
    "a8_incremental_manifest",
    sql="""
    SELECT event_type, COUNT(*) AS n FROM events
    WHERE event_type NOT IN ('view', 'click')
    GROUP BY event_type
    """,
    tier="T3",
    survey="A8,K10",
)
def a8_incremental_manifest(spark, sf_dir):
    """Incremental load: events partitioned to files by event_type; the
    manifest marks the 'view'/'click' files as already processed, so only
    rows from unseen files load (Luigi target-existence semantics)."""
    path = os.path.join(_TMP, "a8_files")
    ev = T(spark, sf_dir, "events")
    writers.write_parquet(ev, path, partition_by=["event_type"])

    tagged = mf.with_source_file(readers.scan_parquet(spark, path))
    processed = (
        tagged.where(F.col("event_type").isin("view", "click"))
        .select("__source_file")
        .distinct()
    )
    new_rows, _new_files = mf.incremental_load(spark, tagged, processed)
    return (
        new_rows.groupBy(F.col("event_type").cast("string").alias("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "a11_espi_xml_parse",
    sql="""
    SELECT CAST(user_id AS VARCHAR) AS trace_id,
           date_trunc('second', CAST(ts AS TIMESTAMP)) AS start,
           date_trunc('second', CAST(ts AS TIMESTAMP)) + INTERVAL '1 hour' AS "end",
           ROUND(value * 1000) * 0.001 AS value,
           'kWh' AS unit,
           FALSE AS estimated
    FROM events WHERE event_id <= 200
    """,
    tier="T2",
    survey="A4,K1,K2",
)
def a11_espi_xml_parse(spark, sf_dir):
    """ESPI/Green Button IntervalBlock XML parsing (the reference's parser
    core, SURVEY.md §3.1 step 2): generate well-formed payloads from the
    events fixture, parse them back with the native from_xml pipeline
    (sources/espi.py), and verify the standardized consumption records
    against the oracle's direct computation. Fully JVM-side — no UDFs."""
    from oeem_etl_spark.sources import espi

    ev = T(spark, sf_dir, "events").where(F.col("event_id") <= 200)
    # `ts` may scan as TIMESTAMP or TIMESTAMP_NTZ depending on the parquet
    # writer's isAdjustedToUTC flag; unix_seconds only takes the former.
    # Session tz is pinned UTC (catalog.py), so the NTZ→LTZ cast is exact.
    epoch = F.unix_seconds(F.col("ts").cast("timestamp_ltz"))
    payload = F.format_string(
        "<IntervalBlock><interval><duration>3600</duration><start>%d</start>"
        "</interval><IntervalReading><timePeriod><duration>3600</duration>"
        "<start>%d</start></timePeriod><value>%d</value></IntervalReading>"
        "</IntervalBlock>",
        epoch,
        epoch,
        F.round(F.col("value") * 1000).cast("long"),
    )
    xml_rows = ev.select(F.col("user_id").alias("trace"), payload.alias("xml"))
    return espi.espi_to_records(xml_rows, "xml", "trace")


@query(
    "a12_orc_roundtrip",
    sql="""
    SELECT p_partkey, p_name, p_retailprice FROM part WHERE p_partkey <= 300
    """,
    tier="T2",
    survey="A6,A1",
)
def a12_orc_roundtrip(spark, sf_dir):
    """ORC sink + scan roundtrip (Spark's second built-in columnar format);
    lossless for int/string/double, so the oracle reads the same subset
    from parquet."""
    sub = (
        T(spark, sf_dir, "part")
        .where(F.col("p_partkey") <= 300)
        .select("p_partkey", "p_name", "p_retailprice")
    )
    path = os.path.join(_TMP, "a12_orc")
    writers.write_orc(sub, path)
    return readers.scan_orc(spark, path)


@query(
    "a14_fetch_upload_pipeline",
    sql="""
    SELECT CAST(user_id % 4 AS BIGINT) AS bucket,
           COUNT(*) AS n_events,
           ROUND(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) / 1000000.0, 6)
             AS total_value
    FROM events WHERE event_id <= 2000
    GROUP BY 1 ORDER BY 1
    """,
    tier="T2",
    survey="A11,A12",
)
def a14_fetch_upload_pipeline(spark, sf_dir):
    """The reference's full fetch -> parse -> transform -> upload loop
    (SURVEY §3.1), oracle-checked end to end: events are staged as CSV
    shards behind a flaky mock transport, fetched with retry to a landing
    dir (executor-side, atomic, idempotent), parsed, aggregated, then
    bulk-upserted in chunks through a flaky mock REST datastore with
    idempotency keys. The returned frame is the DATASTORE's materialized
    state — so the oracle match proves every record survived two injected
    transient-failure edges exactly once.
    """
    import functools
    import shutil

    from oeem_etl_spark.sources import fetch as fx
    from oeem_etl_spark.sources import upload as up

    root = os.path.join(_TMP, f"a14_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(root, ignore_errors=True)
    remote = os.path.join(root, "remote")
    fstate = os.path.join(root, "fstate")
    ustate = os.path.join(root, "ustate")
    landing = os.path.join(root, "landing")
    dsroot = os.path.join(root, "ds")
    for d in (remote, fstate, ustate):
        os.makedirs(d, exist_ok=True)

    # stage the "remote": 4 CSV shards of the events subset
    ev = (
        T(spark, sf_dir, "events")
        .where(F.col("event_id") <= 2000)
        .select((F.col("user_id") % 4).cast("long").alias("bucket"), "value")
    )
    ev.repartition(4, "bucket").write.mode("overwrite").option("header", True).csv(remote)
    shards = sorted(
        f for f in os.listdir(remote) if f.endswith(".csv") and not f.startswith(("_", "."))
    )

    # 1. fetch through a transport that fails each shard's first attempt
    tasks = local_frame(spark, [(s, s) for s in shards], "task_id string, uri string")
    ffactory = functools.partial(
        fx.local_flaky_fetcher, remote=remote, fail_times=1, state_dir=fstate
    )
    fx.check_fetched(fx.fetch_to_landing(tasks, ffactory, landing))

    # 2. parse + 3. transform (dsum-style integer-micros for determinism)
    raw = spark.read.option("header", True).schema("bucket long, value double").csv(landing)
    daily = raw.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.round(F.col("value") * 1000000).cast("long")) / F.lit(1000000.0), 6
        ).alias("total_value"),
    )

    # 4. upload through a datastore that fails each chunk's first attempt
    ufactory = functools.partial(
        up.local_flaky_datastore, root=dsroot, fail_times=1, state_dir=ustate
    )
    up.bulk_upload(
        daily.withColumn("seq", F.lit(1)), ufactory, epoch_id=0, batch_size=2, max_attempts=4
    )

    # the query's result IS the datastore's materialized state
    state = up.FilesystemDatastore(dsroot).state("bucket", "seq")
    rows = [
        (int(v["bucket"]), int(v["n_events"]), float(v["total_value"]))
        for v in state.values()
    ]
    return local_frame(
        spark,
        rows, "bucket long, n_events long, total_value double"
    ).orderBy("bucket")


@query(
    "a15_python_datasource",
    sql="""
    SELECT CAST(t AS VARCHAR) AS trace_id,
           TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (i * 3600) SECOND AS start,
           TIMESTAMP '2024-01-01 00:00:00' + INTERVAL ((i + 1) * 3600) SECOND AS "end",
           CAST(t * 1000 + i * 37 AS DOUBLE) * 0.001 AS value,
           'kWh' AS unit,
           (i % 5 = 0) AS estimated
    FROM range(0, 20) tr(t), range(0, 24) ri(i)
    """,
    tier="T3",
    survey="A1,A4,K1",
)
def a15_python_datasource(spark, sf_dir):
    """Custom Python DataSource (Spark 4 ``pyspark.sql.datasource``): the
    fetch tier lands 20 synthetic ESPI XML documents, then
    ``spark.read.format("espi_dir")`` plans one InputPartition per file
    and parses executor-side with stdlib ElementTree
    (sources/pydatasource.py) — the pure-Python pluggable-source surface
    next to a11's JVM from_xml path, same canonical record schema.

    The payloads are arithmetic-deterministic (synthetic_espi_xml), so the
    oracle reproduces every parsed record from range() alone — the match
    proves fetch landing, partition planning, XML parse, scaling, and the
    estimated-quality flag end to end."""
    import shutil

    from oeem_etl_spark.sources import fetch as fx
    from oeem_etl_spark.sources import pydatasource as pds

    root = os.path.join(_TMP, "a15_pyds")
    shutil.rmtree(root, ignore_errors=True)
    landing = os.path.join(root, "landing")
    tasks = local_frame(
        spark,
        [(f"{t}.xml", f"synthetic://{t}") for t in range(20)],
        "task_id string, uri string",
    )
    fx.check_fetched(fx.fetch_to_landing(tasks, pds.SyntheticEspiFetcher, landing))
    pds.register(spark)
    return spark.read.format("espi_dir").option("path", landing).load()


@query(
    "a34_schema_evolution",
    sql="""
    SELECT event_id, user_id,
           CASE WHEN event_id % 2 = 0 THEN NULL ELSE event_type END AS event_type
    FROM events WHERE event_id <= 400
    """,
    tier="T2",
    survey="A1,A6,B6",
)
def a34_schema_evolution(spark, sf_dir):
    """Schema-evolution read (mergeSchema): an early batch written before a
    column existed and a later batch carrying it land in one dataset
    directory; the merged scan unions the schemas and nulls the missing
    column — the crawl-era ingest reality (feeds gain fields over time)
    without a rewrite of old data. The oracle reproduces the same
    null-pattern from the base table."""
    ev = T(spark, sf_dir, "events").where(F.col("event_id") <= 400)
    path = os.path.join(_TMP, "a16_evolving")
    old = ev.where(F.col("event_id") % 2 == 0).select("event_id", "user_id")
    new = ev.where(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", "event_type"
    )
    writers.write_parquet(old, os.path.join(path, "batch=0"))
    writers.write_parquet(new, os.path.join(path, "batch=1"))
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, "batch=0"), os.path.join(path, "batch=1")
    )
    return back.select("event_id", "user_id", "event_type")


@query(
    "a17_csv_quarantine",
    sql="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey <= 300
    """,
    tier="T2",
    survey="A2,K9,B6",
)
def a17_csv_quarantine(spark, sf_dir):
    """PERMISSIVE CSV ingest with a quarantine channel: a valid extract
    plus hand-corrupted lines (wrong arity / unparseable numerics) are
    scanned with an explicit schema; malformed rows land in the reject
    frame, good rows reproduce the source subset exactly (the oracle).
    The quarantined side's count is asserted in tests/test_clustering.py."""
    sub = (
        T(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 300)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    path = os.path.join(_TMP, "a17_csv")
    writers.write_csv(sub, path)
    # Corrupt lines appended driver-side: a short row and a bad numeric.
    with open(os.path.join(path, "_bad_extra.csv"), "w") as f:
        f.write("9999999\n")
        f.write("9999998,12,not_a_number\n")
    good, _bad = readers.scan_csv_quarantine(
        spark, path, "o_orderkey bigint, o_custkey bigint, o_totalprice double"
    )
    return good


@query(
    "a18_sink_registered_udf",
    sql="""
    SELECT doc_id, lang, length(text) // 4 AS est_tokens
    FROM documents WHERE doc_id <= 300
    """,
    tier="T2",
    survey="A6,J7",
)
def a18_sink_registered_udf(spark, sf_dir):
    """Materialize-then-extend: the curated subset is written to a
    partitioned parquet sink (A6), scanned back, and queried through the
    SQL entry point with a catalog-registered Python UDF (J7) — the
    'land the cleaned table, then let analysts hit it with their own
    functions' shape. Sink faithfulness and UDF execution are both on the
    hook: a lossy write or a mis-registered function mismatches."""
    sub = (
        T(spark, sf_dir, "documents")
        .where(F.col("doc_id") <= 300)
        .select("doc_id", "lang", "text")
    )
    path = os.path.join(_TMP, "a18_parquet")
    writers.write_parquet(sub, path, partition_by=["lang"])
    back = readers.scan_parquet(spark, path)
    spark.udf.register(
        "est_tokens", lambda s: len(s) // 4 if s is not None else None, "bigint"
    )
    back.createOrReplaceTempView("a18_docs")
    return spark.sql(
        """
        SELECT doc_id, CAST(lang AS STRING) AS lang, est_tokens(text) AS est_tokens
        FROM a18_docs
        """
    )


@query(
    "a15b_python_stream_source",
    sql="""
    SELECT CAST(t AS VARCHAR) AS trace_id,
           TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (i * 3600) SECOND AS start,
           TIMESTAMP '2024-01-01 00:00:00' + INTERVAL ((i + 1) * 3600) SECOND AS "end",
           CAST(t * 1000 + i * 37 AS DOUBLE) * 0.001 AS value,
           'kWh' AS unit,
           (i % 5 = 0) AS estimated
    FROM range(0, 12) tr(t), range(0, 24) ri(i)
    """,
    tier="T3",
    survey="A9,A4,A11",
)
def a15b_python_stream_source(spark, sf_dir):
    """STREAMING Python DataSource (Spark 4 ``DataSourceStreamReader``):
    the fetch tier lands 12 synthetic ESPI XML files, then
    ``spark.readStream.format("espi_dir")`` drains them with availableNow
    — file-count offsets planned per micro-batch, one InputPartition per
    newly-landed file, executor-side ElementTree parse
    (sources/pydatasource.py:EspiDirStreamReader). Same closed-form
    oracle as a15's batch face; incremental two-phase arrival + offset
    recovery is pinned in tests/test_streaming.py."""
    import shutil

    from oeem_etl_spark.sources import fetch as fx
    from oeem_etl_spark.sources import pydatasource as pds
    from oeem_etl_spark.streaming import harness

    root = os.path.join(_TMP, "a15b_pyds")
    shutil.rmtree(root, ignore_errors=True)
    landing = os.path.join(root, "landing")
    tasks = local_frame(
        spark,
        [(f"{t}.xml", f"synthetic://{t}") for t in range(12)],
        "task_id string, uri string",
    )
    fx.check_fetched(fx.fetch_to_landing(tasks, pds.SyntheticEspiFetcher, landing))
    pds.register(spark)
    sdf = spark.readStream.format("espi_dir").option("path", landing).load()
    return harness.run_available_now(sdf, "append")


def _snapshot_table(
    spark,
    sf_dir,
    suffix="",
    cols=("event_id", "user_id", "value"),
    v1_partition_by=None,
    v2_transform=None,
):
    """Build (fresh each call) a two-commit snapshot table from events:
    v1 = events with event_id <= 3000, v2 = append of the rest.

    One scaffold for every snapshot-table query: ``suffix`` isolates the
    tmp root per query, ``v1_partition_by`` writes the first commit
    hive-partitioned (a29's layout evolution), ``v2_transform`` mutates
    the second commit's frame (a28's column-add evolution)."""
    import shutil

    from oeem_etl_spark.sources.snapshots import SnapshotTable

    root = os.path.join(_TMP, f"snap{suffix}_{os.path.basename(sf_dir)}")
    shutil.rmtree(root, ignore_errors=True)
    t = SnapshotTable(root)
    ev = T(spark, sf_dir, "events").select(*cols)
    v1 = ev.where(F.col("event_id") <= 3000)
    v2 = ev.where(F.col("event_id") > 3000)
    if v2_transform is not None:
        v2 = v2_transform(v2)
    t.commit(
        v1,
        mode="append",
        partition_by=list(v1_partition_by) if v1_partition_by else None,
    )
    t.commit(v2, mode="append")
    return t


@query(
    "a19_snapshot_time_travel",
    sql="""
    SELECT event_id, user_id, value FROM events WHERE event_id <= 3000
    """,
    tier="T2",
    survey="A6,A8,K10",
)
def a19_snapshot_time_travel(spark, sf_dir):
    """Versioned-manifest table (sources/snapshots.py): two commits, then a
    time-travel read of version 1 — the snapshot must see exactly the
    first commit's membership even though later files exist on disk."""
    t = _snapshot_table(spark, sf_dir)
    return t.read(spark, version=1)


@query(
    "a20_snapshot_pruned_read",
    sql="""
    SELECT event_id, user_id, value FROM events
    WHERE event_id <= 3000 AND user_id BETWEEN 100 AND 120
    """,
    tier="T2",
    survey="A6,A1,B3",
)
def a20_snapshot_pruned_read(spark, sf_dir):
    """Manifest-stats file skipping: the read consults per-file footer
    min/max for user_id and hands Spark only files that can intersect
    [100, 120]; the exact filter still applies, so pruning is invisible
    to results (the oracle proves it) while cutting opened files — the
    manifest-level analogue of row-group pruning."""
    t = _snapshot_table(spark, sf_dir)
    pruned = t.read(spark, version=1, prune=("user_id", 100, 120))
    return pruned.where(F.col("user_id").between(100, 120))


@query(
    "a21_snapshot_merge",
    sql="""
    SELECT event_id, user_id,
           CASE WHEN event_id <= 1000 THEN value + 1000 ELSE value END AS value
    FROM events
    """,
    tier="T2",
    survey="A6,K6,K10",
)
def a21_snapshot_merge(spark, sf_dir):
    """Serializable MERGE into the snapshot table: read a pinned version,
    upsert corrected readings (merge_upsert), commit the result as an
    overwrite guarded by ``expected_version`` — a concurrent commit since
    the read snapshot would raise instead of publishing a lost update
    (the Delta MERGE transaction shape on the manifest layer)."""
    from oeem_etl_spark.operators.relational import merge_upsert

    t = _snapshot_table(spark, sf_dir)
    base_version = t.latest_version()
    base = t.read(spark, version=base_version)
    corrections = (
        T(spark, sf_dir, "events")
        .where(F.col("event_id") <= 1000)
        .select("event_id", "user_id", (F.col("value") + 1000).alias("value"))
    )
    merged = merge_upsert(base, corrections, keys=["event_id"], broadcast_delta=True)
    t.commit(merged, mode="overwrite", expected_version=base_version)
    return t.read(spark)


@query(
    "a23_snapshot_incremental_feed",
    sql="""
    SELECT event_id, user_id, value FROM events WHERE event_id > 3000
    """,
    tier="T2",
    survey="A8,K10,A6",
)
def a23_snapshot_incremental_feed(spark, sf_dir):
    """Manifest-cursor change feed: a downstream consumer that processed
    up to version 1 reads exactly the rows commit 2 appended — the
    file-set diff between manifests, no re-scan of old data and no
    anti-join (the incremental-load idiom on the table-format layer;
    complements the a8 file-manifest approach)."""
    t = _snapshot_table(spark, sf_dir)
    return t.read_incremental(spark, since_version=1)


@query(
    "a24_incremental_agg_maintenance",
    sql="""
    SELECT user_id, COUNT(*) AS n_events,
           ROUND(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) / 1000000.0, 6)
             AS sum_value
    FROM events GROUP BY user_id
    """,
    tier="T2",
    survey="A8,K10,D1,G1",
)
def a24_incremental_agg_maintenance(spark, sf_dir):
    """Incremental VIEW MAINTENANCE on the snapshot table: a per-user
    aggregate materialized at version 1 is advanced to version 2 by
    merging PARTIAL aggregates computed from the change feed alone
    (read_incremental — the commit-2 files only, no re-scan of v1 data).
    The merge is exact because the partials carry integer-micros sums and
    counts (the dsum discipline distributes over union); the oracle is
    the full recompute over ALL events, which the maintained state must
    equal exactly — the algebraic-rollup property that makes aggregate
    maintenance at 100 TB a delta-sized job instead of a table-sized
    one."""
    t = _snapshot_table(spark, sf_dir)

    def partial(df):
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.round(F.col("value") * 1_000_000).cast("long")).alias(
                "__micros"
            ),
        )

    base = partial(t.read(spark, version=1))
    delta = partial(t.read_incremental(spark, since_version=1))
    return (
        base.unionByName(delta)
        .groupBy("user_id")
        .agg(F.sum("__n").alias("n_events"), F.sum("__micros").alias("__m"))
        .select(
            "user_id",
            "n_events",
            F.round(F.col("__m") / F.lit(1e6), 6).alias("sum_value"),
        )
    )


@query(
    "a25_file_provenance_audit",
    sql="""
    SELECT 'events.parquet' AS file_name,
           COUNT(*) AS n_rows,
           MIN(event_id) AS min_key, MAX(event_id) AS max_key
    FROM events
    UNION ALL
    SELECT 'orders.parquet' AS file_name,
           COUNT(*) AS n_rows,
           MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
    FROM orders
    """,
    tier="T2",
    survey="A1,B2,D1,G1",
)
def a25_file_provenance_audit(spark, sf_dir):
    """Row-level provenance via the hidden ``_metadata`` columns: every
    scanned row knows its source file, so per-file audit rollups (row
    counts, key ranges) need no manifest — the lineage primitive behind
    quarantine triage and selective re-ingestion. The oracle pins the
    audit using the fixture's known one-file-per-table layout (verified
    equal to DuckDB's filename=true reading); the Spark side assumes
    nothing — ``_metadata.file_name`` is genuinely per-row, and the
    multi-file case is covered in tests/test_operators.py."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")

    def audit(df, key):
        return (
            df.select(F.col("_metadata.file_name").alias("file_name"), F.col(key))
            .groupBy("file_name")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.min(key).alias("min_key"),
                F.max(key).alias("max_key"),
            )
        )

    return audit(ev, "event_id").unionByName(audit(od, "o_orderkey"))


@query(
    "a26_incremental_join_maintenance",
    sql="""
    SELECT c.c_nationkey AS nationkey, COUNT(*) AS n_events,
           ROUND(SUM(CAST(ROUND(e.value * 1000000) AS BIGINT)) / 1000000.0, 6)
             AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_nationkey
    """,
    tier="T2",
    survey="A8,K10,C1,C9,G1,D1",
)
def a26_incremental_join_maintenance(spark, sf_dir):
    """Delta-join view maintenance with BOTH sides changing: a per-nation
    rollup of events⋈customer is materialized from the old snapshots
    (A_old⋈B_old), then advanced by the three delta joins the IVM algebra
    prescribes — ΔA⋈B_old, A_old⋈ΔB, ΔA⋈ΔB — and a partial-aggregate
    merge. No delta term re-joins the two OLD sides, so the maintenance
    cost is delta-sized while the result must equal the full recompute
    (the oracle) exactly: integer-micros partials make the merge
    algebraic. A_old/ΔA come from the snapshot table's commit feed
    (read_incremental — the commit-2 files only); the dim side is
    broadcast in every term, so no fact shuffle occurs at any step."""
    t = _snapshot_table(spark, sf_dir)
    cust = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    b_old = cust.where(F.col("c_custkey") <= 99)
    b_delta = cust.where(F.col("c_custkey") > 99)
    a_old = t.read(spark, version=1)
    a_delta = t.read_incremental(spark, since_version=1)

    def partial(ev, dim):
        return (
            ev.join(F.broadcast(dim), ev["user_id"] == dim["c_custkey"])
            .groupBy("c_nationkey")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                F.sum(F.round(F.col("value") * 1_000_000).cast("long")).alias(
                    "__micros"
                ),
            )
        )

    terms = [
        partial(a_old, b_old),       # the materialized base
        partial(a_delta, b_old),     # ΔA ⋈ B_old
        partial(a_old, b_delta),     # A_old ⋈ ΔB
        partial(a_delta, b_delta),   # ΔA ⋈ ΔB
    ]
    merged = terms[0]
    for t_ in terms[1:]:
        merged = merged.unionByName(t_)
    return (
        merged.groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.sum("__n").alias("n_events"), F.sum("__micros").alias("__m"))
        .select(
            "nationkey",
            "n_events",
            F.round(F.col("__m") / F.lit(1e6), 6).alias("sum_value"),
        )
    )


@query(
    "a27_snapshot_compaction",
    sql="""
    SELECT user_id, COUNT(*) AS n_events,
           ROUND(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) / 1000000.0, 6)
             AS sum_value
    FROM events GROUP BY user_id
    """,
    tier="T2",
    survey="A6,A8,K10,D1",
)
def a27_snapshot_compaction(spark, sf_dir):
    """Transactional small-file compaction surfaced through the driver
    contract: the two-commit snapshot table is compacted (rewrite into
    ~target-size files, published as a normal commit — readers see old
    files or new, never a mix), then the post-compaction snapshot is
    aggregated. The oracle is the full-events rollup: compaction must be
    invisible to every result row. File-count reduction and pinned-
    version isolation are asserted in tests/test_snapshots.py — this
    query pins the read to the compacted version explicitly."""
    t = _snapshot_table(spark, sf_dir)
    v = t.compact(spark, target_file_mb=128)
    return (
        t.read(spark, version=v)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.round(F.col("value") * 1_000_000).cast("long"))
                / F.lit(1e6),
                6,
            ).alias("sum_value"),
        )
    )


@query(
    "a28_schema_evolution_read",
    sql="""
    SELECT event_id, user_id, value,
           CASE WHEN event_id > 3000 THEN 'batch2' ELSE NULL END AS batch_tag
    FROM events
    """,
    tier="T2",
    survey="A6,A8,B5,B6,K10",
)
def a28_schema_evolution_read(spark, sf_dir):
    """Column-add schema evolution on the snapshot table: commit 1
    writes (event_id, user_id, value), commit 2 appends the SAME columns
    plus a new ``batch_tag`` — and a ``merge_schema`` read reconciles
    both vintages into the union schema, old files yielding NULL for the
    new column (Delta/Iceberg column-add semantics via parquet
    mergeSchema; no rewrite of historical data). The oracle derives the
    expected NULL pattern from the commit split."""
    t = _snapshot_table(
        spark,
        sf_dir,
        suffix="_evo",
        v2_transform=lambda df: df.withColumn("batch_tag", F.lit("batch2")),
    )
    return t.read(spark, merge_schema=True).select(
        "event_id", "user_id", "value", "batch_tag"
    )


@query(
    "a29_partition_evolution_read",
    sql="""
    SELECT event_id, user_id, event_type, value FROM events
    """,
    tier="T2",
    survey="A6,A8,A1,K10",
)
def a29_partition_evolution_read(spark, sf_dir):
    """Partition-layout evolution on the snapshot table: commit 1 writes
    hive-partitioned by event_type (the column lives in directory names),
    commit 2 writes the same schema UNPARTITIONED (the column lives in
    the data files) — the manifest read reconciles both layouts in one
    frame, restoring partition columns via per-commit basePath and
    unioning by name. This is the Iceberg partition-evolution promise:
    changing the layout must never change a row. The oracle is the plain
    full table."""
    t = _snapshot_table(
        spark,
        sf_dir,
        suffix="_pevo",
        cols=("event_id", "user_id", "event_type", "value"),
        v1_partition_by=["event_type"],
    )
    return t.read(spark).select("event_id", "user_id", "event_type", "value")


@query(
    "a30_cdc_apply_deletes",
    sql="""
    SELECT event_id, user_id, value FROM events WHERE event_id % 7 <> 0
    UNION ALL
    SELECT event_id, user_id, ROUND(value + 1000, 2) AS value FROM events
    WHERE event_id % 7 = 0 AND event_id % 21 <> 0
    UNION ALL
    SELECT event_id + 10000000 AS event_id, user_id, value FROM events
    WHERE event_id % 35 = 0
    """,
    tier="T2",
    survey="K6,D12,C4,G1",
)
def a30_cdc_apply_deletes(spark, sf_dir):
    """Full CDC apply (operators/relational.apply_cdc) — merge_upsert
    extended with DELETE semantics and per-key sequencing: the feed
    carries updates (+1000 on every 7th key), deletes (every 21st key),
    inserts (new keys for every 35th), plus a STALE earlier update for
    every 14th key that the max-seq collapse must discard. One hash
    aggregate collapses the feed, one anti join removes touched keys
    (delete and replace in the same pass), one union restores the
    winners. The oracle derives the expected final state arithmetically."""
    from oeem_etl_spark.operators.relational import apply_cdc

    ev = T(spark, sf_dir, "events").select("event_id", "user_id", "value")
    sev = ev.where(F.col("event_id") % 7 == 0)
    updates = sev.where(F.col("event_id") % 21 != 0).select(
        "event_id", "user_id",
        F.round(F.col("value") + 1000, 2).alias("value"),
        F.lit("U").alias("op"), F.lit(2).alias("seq"),
    )
    stale = sev.where(F.col("event_id") % 14 == 0).select(
        "event_id", "user_id",
        F.round(F.col("value") + 500, 2).alias("value"),
        F.lit("U").alias("op"), F.lit(1).alias("seq"),
    )
    deletes = sev.where(F.col("event_id") % 21 == 0).select(
        "event_id", "user_id", "value",
        F.lit("D").alias("op"), F.lit(2).alias("seq"),
    )
    inserts = ev.where(F.col("event_id") % 35 == 0).select(
        (F.col("event_id") + 10_000_000).alias("event_id"),
        "user_id", "value",
        F.lit("I").alias("op"), F.lit(2).alias("seq"),
    )
    feed = updates.unionByName(stale).unionByName(deletes).unionByName(inserts)
    return apply_cdc(
        ev, feed, keys=["event_id"], broadcast_changes=True
    )


@query(
    "a16_json_drop_page",
    sql="""
    SELECT event_id, event_type, value FROM events WHERE event_id <= 800
    ORDER BY event_id LIMIT 100 OFFSET 50
    """,
    tier="T2",
    survey="A3,B7,F2",
)
def a16_json_drop_page(spark, sf_dir):
    """ndjson scan feeding a paged export: drop the columns the consumer
    must not see (B7), then a keyset-ordered OFFSET/LIMIT page (F2) — the
    REST-pagination shape the reference's upload tier emits. The drop and
    the page both push into the scan (column pruning + limit pushdown)."""
    sub = (
        T(spark, sf_dir, "events")
        .where(F.col("event_id") <= 800)
        .select("event_id", "user_id", "event_type", "value")
    )
    path = os.path.join(_TMP, "a16_json")
    sub.write.mode("overwrite").json(path)
    scanned = readers.scan_json(
        spark, path, "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"
    )
    return scanned.drop("user_id").orderBy("event_id").offset(50).limit(100)


@query(
    "a35_csv_dim_enrich",
    sql="""
    SELECT z.zone, COUNT(*) AS n_nations,
           MIN(n.n_name) AS first_nation
    FROM nation n
    JOIN (VALUES (0, 'africa-mideast'), (1, 'americas'), (2, 'asia'),
                 (3, 'europe'), (4, 'africa-mideast')) AS z(rk, zone)
      ON n.n_regionkey = z.rk
    GROUP BY z.zone ORDER BY z.zone
    """,
    tier="T2",
    survey="A7,A5,C9",
)
def a35_csv_dim_enrich(spark, sf_dir):
    """CSV sink roundtrip (A7) + in-memory literal dim (A5) broadcast-joined
    (C9): the staged-extract-enriched-by-config shape. The dim is a literal
    DataFrame, never a shuffle side."""
    sub = T(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    path = os.path.join(_TMP, "a17_dim_csv")  # NOT "a17_csv": owned by a17_csv_quarantine
    writers.write_csv(sub, path)
    nations = readers.scan_csv(
        spark, path, "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT"
    )
    zones = local_frame(
        spark,
        [(0, "africa-mideast"), (1, "americas"), (2, "asia"),
         (3, "europe"), (4, "africa-mideast")],
        "rk BIGINT, zone STRING",
    )
    return (
        nations.join(F.broadcast(zones), nations.n_regionkey == zones.rk)
        .groupBy("zone")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.min("n_name").alias("first_nation"),
        )
        .orderBy("zone")
    )


@query(
    "a37_fetch_upload_stats",
    sql="""
    SELECT event_type, COUNT(*) AS n_events,
           ROUND(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) / 1000000.0, 6)
             AS total_value
    FROM events WHERE event_id <= 1500
    GROUP BY 1 ORDER BY 1
    """,
    tier="T2",
    survey="A11,A12",
)
def a37_fetch_upload_stats(spark, sf_dir):
    """Second fetch→upload pipeline next to a14, rotated onto different
    axes: shards keyed by event TYPE (skewed shard sizes, unlike a14's
    near-uniform user buckets), two injected failures per shard/chunk
    instead of one, and chunk size 1 (every row its own idempotent upsert
    chunk). The returned frame is again the mock datastore's materialized
    state — the oracle match proves effectively-once through the doubled
    failure schedule."""
    import functools
    import shutil

    from oeem_etl_spark.sources import fetch as fx
    from oeem_etl_spark.sources import upload as up

    root = os.path.join(_TMP, f"a18_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(root, ignore_errors=True)
    remote = os.path.join(root, "remote")
    fstate = os.path.join(root, "fstate")
    ustate = os.path.join(root, "ustate")
    landing = os.path.join(root, "landing")
    dsroot = os.path.join(root, "ds")
    for d in (remote, fstate, ustate):
        os.makedirs(d, exist_ok=True)

    ev = (
        T(spark, sf_dir, "events")
        .where(F.col("event_id") <= 1500)
        .select("event_type", "value")
    )
    ev.repartition(3, "event_type").write.mode("overwrite").option(
        "header", True
    ).csv(remote)
    shards = sorted(
        f for f in os.listdir(remote)
        if f.endswith(".csv") and not f.startswith(("_", "."))
    )

    tasks = local_frame(spark, [(s, s) for s in shards], "task_id string, uri string")
    ffactory = functools.partial(
        fx.local_flaky_fetcher, remote=remote, fail_times=2, state_dir=fstate
    )
    fx.check_fetched(fx.fetch_to_landing(tasks, ffactory, landing))

    raw = spark.read.option("header", True).schema(
        "event_type string, value double"
    ).csv(landing)
    stats = raw.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.round(F.col("value") * 1000000).cast("long")) / F.lit(1000000.0), 6
        ).alias("total_value"),
    )

    ufactory = functools.partial(
        up.local_flaky_datastore, root=dsroot, fail_times=2, state_dir=ustate
    )
    up.bulk_upload(
        stats.withColumn("seq", F.lit(1)), ufactory, epoch_id=0, batch_size=1,
        max_attempts=6,
    )

    state = up.FilesystemDatastore(dsroot).state("event_type", "seq")
    rows = [
        (str(v["event_type"]), int(v["n_events"]), float(v["total_value"]))
        for v in state.values()
    ]
    return local_frame(
        spark,
        rows, "event_type string, n_events long, total_value double"
    ).orderBy("event_type")


@query(
    "a38_orc_roundtrip",
    sql="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey <= 800
    """,
    tier="T2",
    survey="A1,A6",
)
def a38_orc_roundtrip(spark, sf_dir):
    """ORC sink + ORC scan (Spark-native columnar alternative to parquet;
    readers.scan_orc / writers.write_orc were operator-only until now).
    The oracle reads the same slice straight from parquet, so the check
    certifies the ORC round trip is lossless for int/string/double."""
    sub = (
        T(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 800)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    )
    path = os.path.join(_TMP, "a38_orc")
    writers.write_orc(sub, path)
    return readers.scan_orc(spark, path)
