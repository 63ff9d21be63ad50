"""Task-DAG orchestration: target-existence skipping, dependency order,
incremental re-runs — the reference's Luigi contract (SURVEY.md §3.1)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oeem_etl_spark.catalog import load_table
from oeem_etl_spark.pipelines import Task, run_pipeline, target_exists

SMALL_SF = "/root/testdata/sf0.001"


def _pipeline(tmp_path, calls):
    def fetch(spark, inputs):
        calls.append("fetch")
        return load_table(spark, SMALL_SF, "events").select(
            "event_id", "user_id", "event_type", "value", "ts"
        )

    def parse(spark, inputs):
        calls.append("parse")
        return inputs["fetch"].withColumn("day", F.to_date("ts"))

    def transform(spark, inputs):
        calls.append("transform")
        return (
            inputs["parse"]
            .groupBy("day", "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    return [
        Task("fetch", str(tmp_path / "raw"), fetch),
        Task("parse", str(tmp_path / "parsed"), parse, deps=["fetch"]),
        Task("transform", str(tmp_path / "out"), transform, deps=["parse"]),
    ]


def test_pipeline_builds_in_dependency_order(spark, tmp_path):
    calls: list[str] = []
    status = run_pipeline(spark, _pipeline(tmp_path, calls))
    assert status == {"fetch": "built", "parse": "built", "transform": "built"}
    assert calls == ["fetch", "parse", "transform"]
    assert target_exists(str(tmp_path / "out"))
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() > 0


def test_pipeline_skips_existing_targets(spark, tmp_path):
    calls: list[str] = []
    run_pipeline(spark, _pipeline(tmp_path, calls))
    calls.clear()
    status = run_pipeline(spark, _pipeline(tmp_path, calls))
    assert status == {"fetch": "skipped", "parse": "skipped", "transform": "skipped"}
    assert calls == []  # nothing re-executed — the Luigi idiom


def test_pipeline_rebuilds_only_missing(spark, tmp_path):
    calls: list[str] = []
    run_pipeline(spark, _pipeline(tmp_path, calls))
    calls.clear()
    import shutil

    shutil.rmtree(tmp_path / "out")
    status = run_pipeline(spark, _pipeline(tmp_path, calls))
    assert status == {"fetch": "skipped", "parse": "skipped", "transform": "built"}
    assert calls == ["transform"]


def test_dependency_built_in_the_same_call_is_read_without_a_job(
    spark, tmp_path, monkeypatch
):
    """The dependency read takes the schema of the frame just written, so
    no job runs between the upstream write and the downstream build."""
    from pyspark.sql.readwriter import DataFrameWriter

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    after_write: list[int] = []
    write = DataFrameWriter.parquet

    def counted_write(self, *args, **kwargs):
        write(self, *args, **kwargs)
        after_write.append(dag.nextJobId())

    monkeypatch.setattr(DataFrameWriter, "parquet", counted_write)
    seen = {}

    def make(spark_, inputs):
        return spark_.range(10).select("id", F.col("id").cast("string").alias("s"))

    def consume(spark_, inputs):
        seen["columns"] = inputs["make"].columns
        seen["next_job"] = dag.nextJobId()
        seen["schema"] = inputs["make"].schema
        return inputs["make"].where(F.col("id") % 2 == 0)

    tasks = [
        Task("make", str(tmp_path / "make"), make),
        Task("consume", str(tmp_path / "consume"), consume, deps=["make"]),
    ]
    assert run_pipeline(spark, tasks) == {"make": "built", "consume": "built"}
    assert seen["columns"] == ["id", "s"]
    assert seen["next_job"] == after_write[0]
    assert seen["schema"] == spark.read.parquet(str(tmp_path / "make")).schema
    got = spark.read.parquet(str(tmp_path / "consume"))
    assert sorted(r["id"] for r in got.collect()) == [0, 2, 4, 6, 8]


def test_pipeline_cycle_detection(spark, tmp_path):
    t1 = Task("a", str(tmp_path / "a"), lambda s, i: None, deps=["b"])
    t2 = Task("b", str(tmp_path / "b"), lambda s, i: None, deps=["a"])
    with pytest.raises(ValueError, match="cycle"):
        run_pipeline(spark, [t1, t2])


def test_pipeline_unknown_dep(spark, tmp_path):
    t1 = Task("a", str(tmp_path / "a"), lambda s, i: None, deps=["nope"])
    with pytest.raises(ValueError, match="unknown"):
        run_pipeline(spark, [t1])


def test_reference_etl_chain_end_to_end(spark, tmp_path):
    """The reference's whole job as one target-existence DAG:
    ESPI XML drop → parse → dedupe → hourly resample → gap-fill →
    quality audit, plus a second XML drop merged in by upsert.
    Asserts exact record-level outcomes at every boundary."""
    import datetime as dt

    from pyspark.sql import functions as F

    from oeem_etl_spark.operators.quality import validate_quality
    from oeem_etl_spark.operators.relational import (
        dedupe_keep_latest_by,
        merge_upsert,
    )
    from oeem_etl_spark.operators.timeseries import fill_gaps, resample_interval
    from oeem_etl_spark.pipelines import Task, run_pipeline
    from oeem_etl_spark.sources.espi import read_espi_dir

    # two-hour interval block with a deliberate 1-hour gap after it
    xml = """
    <IntervalBlock>
      <interval><duration>7200</duration><start>1704067200</start></interval>
      <IntervalReading>
        <timePeriod><duration>3600</duration><start>1704067200</start></timePeriod>
        <value>1500</value>
      </IntervalReading>
      <IntervalReading>
        <timePeriod><duration>3600</duration><start>1704074400</start></timePeriod>
        <value>2250</value>
      </IntervalReading>
    </IntervalBlock>
    """
    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "meter-a.xml").write_text(xml)

    out = {n: str(tmp_path / n) for n in ("records", "hourly", "dense", "audit")}

    def parse(spark_, inputs):
        return read_espi_dir(spark_, str(drop))

    def hourly(spark_, inputs):
        recs = dedupe_keep_latest_by(
            inputs["parse"], ["trace_id", "start"], ["end"]
        )
        return resample_interval(
            recs, ["trace_id"], "start", "hour", [F.sum("value").alias("kwh")]
        )

    def dense(spark_, inputs):
        return fill_gaps(inputs["hourly"], ["trace_id"], "bucket", "kwh", freq="hour")

    def audit(spark_, inputs):
        return validate_quality(
            inputs["dense"], ["trace_id"], "bucket", {"null_kwh": F.col("kwh").isNull()}
        )

    tasks = [
        Task("parse", out["records"], parse),
        Task("hourly", out["hourly"], hourly, deps=("parse",)),
        Task("dense", out["dense"], dense, deps=("hourly",)),
        Task("audit", out["audit"], audit, deps=("dense",)),
    ]
    status = run_pipeline(spark, tasks)
    assert status == {"parse": "built", "hourly": "built", "dense": "built", "audit": "built"}

    # gap-fill materialized the missing 01:00 bucket, forward-filled
    dense_rows = {
        r["bucket"]: r["kwh"]
        for r in spark.read.parquet(out["dense"]).collect()
    }
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    assert len(dense_rows) == 3
    assert dense_rows[t0] == 1.5
    assert dense_rows[t0 + dt.timedelta(hours=1)] == 1.5  # forward-filled gap
    assert dense_rows[t0 + dt.timedelta(hours=2)] == 2.25
    audit_row = spark.read.parquet(out["audit"]).collect()[0]
    assert (audit_row["n_rows"], audit_row["n_dup_keys"], audit_row["null_kwh"]) == (3, 0, 0)

    # re-run: every target exists -> everything skips (Luigi idiom)
    assert set(run_pipeline(spark, tasks).values()) == {"skipped"}

    # second drop: a correction for hour 0 (higher value wins by end ts)
    # flows through an upsert into the hourly target
    (drop / "meter-a-corr.xml").write_text(
        xml.replace("1500", "9000").replace("meter", "x")
    )
    corr = read_espi_dir(spark, str(drop / "meter-a-corr.xml")).withColumn(
        "trace_id", F.lit("meter-a")
    )
    corr_hourly = resample_interval(
        corr, ["trace_id"], "start", "hour", [F.sum("value").alias("kwh")]
    )
    merged = merge_upsert(
        spark.read.parquet(out["hourly"]), corr_hourly, ["trace_id", "bucket"]
    )
    got = {r["bucket"]: r["kwh"] for r in merged.collect()}
    assert got[t0] == 9.0 and got[t0 + dt.timedelta(hours=2)] == 2.25
