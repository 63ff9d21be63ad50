"""Snapshot table format (sources/snapshots.py): versioned manifests,
time travel, rollback, optimistic concurrency, stats pruning, and
transactional compaction."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from oeem_etl_spark.sources.snapshots import CommitConflict, SnapshotTable
from oeem_etl_spark.streaming import harness


def _ids(df) -> list[int]:
    return sorted(r["id"] for r in df.collect())


@pytest.fixture()
def table(spark, tmp_path):
    return SnapshotTable(str(tmp_path / "tbl"))


def test_append_overwrite_and_time_travel(spark, table):
    d1 = spark.range(0, 10)
    d2 = spark.range(10, 15)
    v1 = table.commit(d1)
    v2 = table.commit(d2)  # append
    assert (v1, v2) == (1, 2)
    assert _ids(table.read(spark)) == list(range(15))
    assert _ids(table.read(spark, version=1)) == list(range(10))
    v3 = table.commit(spark.range(100, 103), mode="overwrite")
    assert _ids(table.read(spark)) == [100, 101, 102]
    # old versions still readable after the overwrite
    assert _ids(table.read(spark, version=2)) == list(range(15))
    assert table.versions() == [1, 2, 3] and v3 == 3


def test_as_of_timestamp_resolution(spark, table):
    table.commit(spark.range(0, 3))
    t1 = table._manifest(1)["committed_at"]
    table.commit(spark.range(3, 6))
    assert _ids(table.read(spark, as_of=t1)) == [0, 1, 2]
    with pytest.raises(ValueError, match="no snapshot at or before"):
        table.read(spark, as_of=t1 - 1000)


def _read_before_first_commit(t, spark):
    t.commit(spark.range(1))
    t.read(spark, as_of=0.0)


def _vacuumed(t, spark):
    """A table at v2 whose v1 manifest was vacuumed."""
    t.commit(spark.range(3))
    t.commit(spark.range(3, 5))
    t.vacuum(retain_last=1)
    return t


@pytest.mark.parametrize(
    "call, match",
    [
        (lambda t, spark: t.commit(spark.range(1), mode="upsert"), "commit mode"),
        (lambda t, spark: t.rollback(1), "roll back an empty table"),
        (lambda t, spark: t.compact(spark), "compact an empty table"),
        (lambda t, spark: t.vacuum(retain_last=0), "retain_last must be at least 1"),
        (lambda t, spark: t.read(spark), "read an empty table"),
        (_read_before_first_commit, "no snapshot at or before"),
        (lambda t, spark: t.read_incremental(spark, 2, 1), "bad change-feed range"),
        (lambda t, spark: _vacuumed(t, spark).read(spark, version=1),
         r"version 1 does not exist .*versions: \[2\]"),
        (lambda t, spark: _vacuumed(t, spark).rollback(7),
         r"version 7 does not exist .*versions: \[2\]"),
        (lambda t, spark: _vacuumed(t, spark).read_incremental(spark, 1),
         r"version 1 does not exist .*versions: \[2\]"),
    ],
    ids=["commit_mode", "rollback_empty", "compact_empty", "vacuum_retain",
         "resolve_empty", "resolve_as_of", "incremental_range",
         "read_missing_version", "rollback_missing_version",
         "incremental_missing_version"],
)
def test_bad_arguments_raise_value_error(spark, table, call, match):
    """Validation raises ValueError, which ``python -O`` keeps; an assert
    would be stripped."""
    with pytest.raises(ValueError, match=match):
        call(table, spark)


def test_rollback_appends_history(spark, table):
    table.commit(spark.range(0, 5))
    table.commit(spark.range(5, 9))
    v = table.rollback(1)
    assert v == 3
    assert _ids(table.read(spark)) == list(range(5))
    # the rolled-back-over version is still in history
    assert _ids(table.read(spark, version=2)) == list(range(9))


def test_concurrent_commit_conflict(spark, table):
    table.commit(spark.range(0, 5))
    # writer A reads snapshot v1, writer B commits v2 first
    table.commit(spark.range(5, 10))
    with pytest.raises(CommitConflict):
        table.commit(spark.range(99, 100), expected_version=1)
    # un-guarded append just takes the next version
    assert table.commit(spark.range(10, 12)) == 3


def test_publish_put_if_absent(spark, table):
    table.commit(spark.range(0, 2))
    m = table._manifest(1)
    with pytest.raises(CommitConflict):
        table._publish(m, 1)


def test_stats_pruning_skips_files_not_rows(spark, table):
    # two commits with disjoint id ranges -> disjoint per-file stats
    table.commit(spark.range(0, 1000).repartition(1))
    table.commit(spark.range(5000, 6000).repartition(1))
    full = table.read(spark)
    pruned = table.read(spark, prune=("id", 5500, 5600))
    # pruning dropped the low file entirely...
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    # ...but never drops qualifying rows
    exact = pruned.where(F.col("id").between(5500, 5600))
    assert _ids(exact) == list(range(5500, 5601))
    # conservative: a column with no stats keeps every file
    keep_all = table.read(spark, prune=("no_such_col", 0, 1))
    assert len(keep_all.inputFiles()) == len(full.inputFiles())


def test_compaction_is_transactional_and_lossless(spark, table):
    table.commit(spark.range(0, 2000).repartition(16))
    assert table.file_count() == 16
    v = table.compact(spark, target_file_mb=128)
    assert v == 2
    assert table.file_count() < 16
    assert _ids(table.read(spark)) == list(range(2000))
    # the pre-compaction snapshot still reads its original 16 files
    assert table.file_count(version=1) == 16
    assert _ids(table.read(spark, version=1)) == list(range(2000))


def test_manifest_files_survive_partial_writer_crash(spark, table, tmp_path):
    """A writer that dies after writing data files but before publishing
    leaves no visible change: the orphan directory is not in any manifest."""
    table.commit(spark.range(0, 4))
    orphan = os.path.join(table.data_dir, "orphan")
    spark.range(100, 104).write.parquet(orphan)
    assert _ids(table.read(spark)) == [0, 1, 2, 3]


def test_vacuum_reclaims_unreferenced_files_only(spark, table):
    table.commit(spark.range(0, 10))          # v1
    table.commit(spark.range(10, 20))         # v2 (append: shares v1 files)
    table.commit(spark.range(50, 55), mode="overwrite")  # v3: fresh files
    files_v2 = {e["path"] for e in table._manifest(2)["files"]}
    deleted, dropped = table.vacuum(retain_last=1)
    # both early manifests dropped; every v2 file was unreferenced by v3
    assert dropped == 2 and deleted == len(files_v2)
    assert table.versions() == [3]
    assert _ids(table.read(spark)) == [50, 51, 52, 53, 54]
    assert all(not os.path.exists(p) for p in files_v2)
    # vacuum with nothing to drop is a no-op
    assert table.vacuum(retain_last=1) == (0, 0)


def test_vacuum_keeps_files_shared_with_retained_versions(spark, table):
    table.commit(spark.range(0, 10))   # v1
    table.commit(spark.range(10, 20))  # v2 appends -> v2 references v1 files
    deleted, dropped = table.vacuum(retain_last=1)
    assert dropped == 1 and deleted == 0  # v1's files live on in v2
    assert _ids(table.read(spark)) == list(range(20))


def test_batch_id_commit_is_replay_idempotent(spark, table):
    v1 = table.commit(spark.range(0, 5), batch_id=0)
    v2 = table.commit(spark.range(5, 10), batch_id=1)
    # crash-replay of batch 1: no new version, no duplicate rows
    v_replay = table.commit(spark.range(5, 10), batch_id=1)
    assert (v1, v2, v_replay) == (1, 2, 2)
    assert _ids(table.read(spark)) == list(range(10))
    # the next real batch proceeds normally
    assert table.commit(spark.range(10, 12), batch_id=2) == 3


def test_streaming_restart_does_not_double_commit(spark, tmp_path):
    """availableNow run, then a second run over the same checkpoint: the
    second run has nothing new and the table must be unchanged."""
    import os

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    table = SnapshotTable(str(tmp_path / "tbl"))
    spark.range(0, 100).repartition(2).write.parquet(src)

    def run():
        sdf = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(src, "*.parquet"))
        )
        harness.drain(
            sdf.writeStream.foreachBatch(
                lambda bdf, bid: table.commit(bdf, batch_id=bid) and None
            ),
            "restart",
            ckpt,
        )

    run()
    v_after_first = table.latest_version()
    run()  # restart: checkpoint says everything is processed
    assert table.latest_version() == v_after_first
    assert _ids(table.read(spark)) == list(range(100))


def test_partitioned_commit_prunes_by_exact_partition_value(spark, table):
    from pyspark.sql import functions as SF

    df = spark.range(0, 300).select(
        "id", (SF.col("id") % 3).cast("string").alias("dt")
    )
    table.commit(df, partition_by=["dt"])
    full = table.read(spark)
    # partition column restored through the basePath read
    assert set(full.columns) == {"id", "dt"}
    assert _ids(full) == list(range(300))
    pruned = table.read(spark, prune=("dt", 1, 1))
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    got = pruned.where(SF.col("dt") == "1")
    assert sorted(r["id"] for r in got.collect()) == [
        i for i in range(300) if i % 3 == 1
    ]


def test_partitioned_append_across_commits_unions_cleanly(spark, table):
    from pyspark.sql import functions as SF

    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        "id", (SF.col("id") % 2).cast("string").alias("dt")
    )
    table.commit(mk(0, 50), partition_by=["dt"])
    table.commit(mk(50, 80), partition_by=["dt"])
    assert _ids(table.read(spark)) == list(range(80))
    # pruning applies across both commits' file sets
    pruned = table.read(spark, prune=("dt", 0, 0))
    # (Spark's partition-type inference reads dt back as int)
    assert {str(r["dt"]) for r in pruned.select("dt").distinct().collect()} == {"0"}


def test_incremental_feed_appends_only(spark, table):
    import pytest as _pytest

    table.commit(spark.range(0, 10))
    table.commit(spark.range(10, 20))
    table.commit(spark.range(20, 30))
    assert _ids(table.read_incremental(spark, 1)) == list(range(10, 30))
    assert _ids(table.read_incremental(spark, 1, 2)) == list(range(10, 20))
    # an overwrite in range invalidates the file-diff semantics: refuse
    table.commit(spark.range(0, 5), mode="overwrite")
    with _pytest.raises(ValueError, match="not append"):
        table.read_incremental(spark, 2)
    # ranges entirely before the rewrite still work
    assert _ids(table.read_incremental(spark, 2, 3)) == list(range(20, 30))


def test_incremental_feed_keeps_partition_columns(spark, table):
    """A change feed over hive-partitioned appends has ``read``'s columns
    (the partition column comes back from the directory names) and only
    the appended rows."""
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        "id", (F.col("id") % 2).cast("string").alias("dt")
    )
    table.commit(mk(0, 10), partition_by=["dt"])
    table.commit(mk(10, 16), partition_by=["dt"])
    inc = table.read_incremental(spark, 1)
    assert inc.columns == table.read(spark).columns == ["id", "dt"]
    assert sorted((r["id"], str(r["dt"])) for r in inc.collect()) == [
        (i, str(i % 2)) for i in range(10, 16)
    ]


def test_prune_to_empty_returns_empty_frame_not_error(spark, tmp_path):
    """Pruning changes I/O, never results: a range intersecting NO file's
    stats must yield an empty frame with the table schema (this bit the
    sf0.001 sweep, where the a20 prune range matches no user ids)."""
    from oeem_etl_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "t"))
    df = (
        spark.range(10)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .coalesce(1)  # one file, so the stats range is [0, 9] exactly
    )
    t.commit(df, mode="append")
    out = t.read(spark, version=1, prune=("k", 1000, 2000))
    assert out.columns == ["k", "v"]
    assert out.count() == 0
    # an intersecting prune keeps the file (caller applies the exact filter)
    assert t.read(spark, version=1, prune=("k", 0, 3)).count() == 10


def test_schema_evolution_merge_read(spark, table):
    table.commit(spark.range(0, 5))  # (id)
    table.commit(spark.range(5, 8).withColumn("tag", F.lit("new")))
    # merged read: union schema, old files NULL-filled
    got = {
        r["id"]: r["tag"] for r in table.read(spark, merge_schema=True).collect()
    }
    assert got == {i: None for i in range(5)} | {i: "new" for i in range(5, 8)}
    # pinned pre-evolution version keeps the narrow schema
    assert table.read(spark, version=1).columns == ["id"]


# -- the schema recorded at commit -------------------------------------------


def _files(table, version=None) -> list[str]:
    v = table.latest_version() if version is None else version
    return [e["path"] for e in table._manifest(v)["files"]]


def _rows(df) -> list[str]:
    return sorted(map(repr, df.collect()))


def _wide(spark, lo, hi):
    """Non-nullable, nested, temporal and decimal columns: the writer's
    nullability differs from what a parquet read returns, and pyarrow
    cannot decode the footer statistics of an INT64-backed decimal."""
    return spark.range(lo, hi).select(
        "id",
        F.col("id").cast("string").alias("s"),
        (F.col("id") / 3).alias("d"),
        F.array("id").alias("arr"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        F.struct(F.col("id").alias("x")).alias("st"),
        F.timestamp_seconds("id").alias("ts"),
        F.col("id").cast("decimal(10,2)").alias("dec"),
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias("day"),
    )


def _first_commit(spark, t):
    t.commit(_wide(spark, 0, 20))


def _same_schema_append(spark, t):
    t.commit(_wide(spark, 0, 20))
    t.commit(_wide(spark, 20, 30))


def _overwrite(spark, t):
    t.commit(spark.range(5))
    t.commit(_wide(spark, 0, 20), mode="overwrite")


def _compaction(spark, t):
    t.commit(_wide(spark, 0, 40).repartition(4))
    t.compact(spark)


def _rollback(spark, t):
    t.commit(_wide(spark, 0, 20))
    t.commit(spark.range(5), mode="overwrite")
    t.rollback(1)


@pytest.mark.parametrize(
    "build",
    [_first_commit, _same_schema_append, _overwrite, _compaction, _rollback],
    ids=["first_commit", "same_schema_append", "overwrite", "compaction", "rollback"],
)
def test_recorded_schema_read_equals_inferred_read(spark, table, build):
    build(spark, table)
    assert "schema" in table._manifest(table.latest_version())
    got = table.read(spark)
    want = spark.read.parquet(*_files(table))
    assert got.schema == want.schema  # nullability included
    assert _rows(got) == _rows(want)


def test_append_with_added_column_reads_the_base_schema(spark, table):
    """Inference would open the lexicographically first path, and data
    directories are random uuids, so which commit's schema a footer read
    returned was chance. The recorded schema is the first commit's."""
    table.commit(spark.range(0, 5))
    table.commit(spark.range(5, 8).withColumn("tag", F.lit("new")))
    base = spark.read.parquet(*_files(table, 1)).schema
    got = table.read(spark)
    assert got.schema == base
    assert _rows(got) == _rows(spark.read.schema(base).parquet(*_files(table)))
    merged = table.read(spark, merge_schema=True)
    want = spark.read.option("mergeSchema", "true").parquet(*_files(table))
    assert merged.schema == want.schema
    assert _rows(merged) == _rows(want)


def test_partitioned_commit_read_infers_partition_types(spark, table):
    df = spark.range(0, 30).select("id", (F.col("id") % 3).cast("string").alias("dt"))
    table.commit(df, partition_by=["dt"])
    base = os.path.dirname(os.path.dirname(_files(table)[0]))
    want = spark.read.option("basePath", base).parquet(*_files(table))
    got = table.read(spark)
    assert got.schema == want.schema  # dt comes back as int, last
    assert _rows(got) == _rows(want)


@pytest.mark.parametrize(
    "read",
    [
        lambda t, spark: t.read(spark),
        lambda t, spark: t.read(spark, prune=("id", 1000, 1050)),
        lambda t, spark: t.read(spark, prune=("id", 5000, 6000)),
        lambda t, spark: t.read_incremental(spark, 1),
    ],
    ids=["default", "pruned", "all_pruned", "incremental"],
)
def test_read_with_recorded_schema_starts_no_job(spark, table, read):
    table.commit(spark.range(0, 100).coalesce(1))
    table.commit(spark.range(1000, 1100).coalesce(1))
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.nextJobId()
    df = read(table, spark)
    assert df.columns == ["id"]
    assert dag.nextJobId() == before
    assert df.schema == spark.read.parquet(*_files(table)).schema


def test_manifest_without_schema_reads_by_inference(spark, table):
    """Manifests written before commits recorded a schema still read."""
    import json

    table.commit(spark.range(0, 10).coalesce(1))
    path = os.path.join(table.manifest_dir, "v1.json")
    with open(path) as fh:
        m = json.load(fh)
    del m["schema"]
    with open(path, "w") as fh:
        json.dump(m, fh)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.nextJobId()
    df = table.read(spark)
    assert dag.nextJobId() > before  # the footer inference job
    assert _ids(df) == list(range(10))
    assert _ids(table.read(spark, prune=("id", 50, 60))) == []
    # an append onto it records no schema either: nothing to keep
    table.commit(spark.range(10, 12))
    assert "schema" not in table._manifest(2)
    assert _ids(table.read(spark)) == list(range(12))
