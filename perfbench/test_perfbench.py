"""Tests of the benchmark's own measuring code.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import operator
import os

import pytest

import datagen
import run
import tracing
import workloads


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    # pyspark workers unpickle functions of oeem_etl_spark: give them the checkout
    root = os.path.dirname(run.HERE)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    # a retention limit far below the stages the tests run: the meter must
    # read every op's stages before the status store drops them
    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.retainedStages", "5")
        .config("spark.ui.retainedJobs", "5")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_noop_write_runs_the_columns_count_prunes(spark):
    from pyspark.sql import functions as F

    calls = spark.sparkContext.accumulator(0)

    def tap(x):
        calls.add(1)
        return x

    df = spark.range(0, 10, 1, 2).withColumn("y", F.udf(tap, "long")("id"))
    df.count()
    assert calls.value == 0  # count() pruned the UDF column away
    workloads.noop_write(df)
    assert calls.value == 10


def test_engine_meter_counts_a_known_job_exactly(spark):
    sc = spark.sparkContext
    meter = tracing.EngineMeter(spark)
    for _ in range(4):  # 8 stages: more than the store retains
        sc.parallelize(range(8), 4).map(lambda x: (x % 2, 1)).reduceByKey(operator.add, 2).collect()
        d = meter.delta()
        assert (d["jobs"], d["stages"], d["tasks"]) == (1, 2, 6)
        assert d["shuffle_write_bytes"] > 0
    assert meter.delta()["stages"] == 0


@pytest.mark.parametrize("flaky", [[], ["b.xml"], ["a.xml", "c.xml"]])
def test_fetch_retries_count_only_failed_attempts(spark, tmp_path, flaky):
    files = ["a.xml", "b.xml", "c.xml"]
    remote = tmp_path / "remote"
    remote.mkdir()
    for f in files:
        (remote / f).write_text(f)
    landing = tmp_path / "landing"
    retries = workloads.fetch_batch(spark, files, flaky, str(remote), str(landing), str(tmp_path / "state"))
    assert retries == len(flaky)
    assert sorted(os.listdir(landing)) == files


def test_self_times_subtract_children_and_cover_the_pass():
    tr = tracing.Tracer(enabled=True)
    with tr.span("plans.build"):
        with tr.span("catalog.load_table"):
            pass
    with tr.span("operators.action"):
        pass
    outer, inner, action = (s["end"] - s["start"] for s in tr.spans)
    selfs = tr.self_times(0, len(tr.spans))
    assert selfs["plans"] == pytest.approx(outer - inner)
    assert selfs["catalog"] == pytest.approx(inner)
    assert sum(selfs.values()) == pytest.approx(tr.top_level(0, len(tr.spans)))
    assert tr.top_level(0, len(tr.spans)) == pytest.approx(outer + action)


def test_disabled_tracer_records_nothing():
    tr = tracing.Tracer(enabled=False)
    with tr.span("plans.build"):
        tr.count("plans.eager_jobs")
    assert tr.spans == [] and not tr.counts


def test_percentile_is_nearest_rank():
    vals = list(range(1, 11))
    assert run.percentile(vals, 0.5) == 5
    assert run.percentile(vals, 0.9) == 9
    assert run.percentile([3.0], 0.9) == 3.0


def test_reported_units_match_benchmark_json():
    path = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("no BENCHMARK.json next to perfbench/")
    with open(path) as f:
        spec = json.load(f)
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert run._unit(m["name"]) == m["unit"], m["name"]


def test_ingest_stream_is_a_function_of_the_seed():
    a, b = datagen.ingest_batches(7), datagen.ingest_batches(7)
    assert a == b
    assert a != datagen.ingest_batches(8)
    assert [x["fmt"] for x in a] == ["xml", "csv"] * (datagen.INGEST_BATCHES // 2)
    # corrections: some (trace, start) keys arrive again with a higher version
    keys = [(r[0], r[1]) for x in a for r in x["records"]]
    assert len(keys) > len(set(keys))
