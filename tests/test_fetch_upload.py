"""Fetch → parse → transform → upload tier tests: retry, idempotency,
and the end-to-end loop with injected transient failures (SURVEY §3.1)."""

from __future__ import annotations

import functools
import os
import time

import pytest
from pyspark.sql import functions as F

from oeem_etl_spark.catalog import local_frame
from oeem_etl_spark.sources import fetch as fx
from oeem_etl_spark.sources import upload as up

CSVS = {
    "meter_a.csv": "meter_id,ts,kwh\nA,2024-01-01T00:00:00,1.5\nA,2024-01-01T01:00:00,2.5\n",
    "meter_b.csv": "meter_id,ts,kwh\nB,2024-01-01T00:00:00,4.0\n",
    "meter_c.csv": "meter_id,ts,kwh\nC,2024-01-01T02:00:00,0.5\nC,2024-01-01T03:00:00,1.0\n",
}


def _remote(tmp_path):
    remote = tmp_path / "remote"
    remote.mkdir()
    for name, body in CSVS.items():
        (remote / name).write_text(body)
    return str(remote)


def test_fetch_with_retry_transient_then_permanent(tmp_path):
    remote = _remote(tmp_path)
    state = tmp_path / "state"
    state.mkdir()
    flaky = fx.FlakyFetcher(fx.LocalDirFetcher(remote), 2, str(state))
    sleeps = []
    got = fx.fetch_with_retry(
        flaky, "meter_a.csv", max_attempts=4, sleep=sleeps.append
    )
    assert got == CSVS["meter_a.csv"].encode()
    assert flaky.attempts("meter_a.csv") == 3  # 2 failures + 1 success
    assert sleeps == [0.05, 0.1]  # exponential backoff

    # budget exhaustion surfaces as permanent FetchError
    flaky2 = fx.FlakyFetcher(fx.LocalDirFetcher(remote), 99, str(state))
    with pytest.raises(fx.FetchError, match="exhausted"):
        fx.fetch_with_retry(flaky2, "meter_b.csv", max_attempts=3, sleep=lambda s: None)

    # missing resource is permanent: no retry loop
    with pytest.raises(fx.FetchError, match="no such remote"):
        fx.fetch_with_retry(fx.LocalDirFetcher(remote), "nope.csv")


def test_check_fetched_raises_on_a_task_that_did_not_land(spark):
    schema = "task_id string, status string, n_bytes long"
    ok = [("a.csv", "fetched", 3), ("b.csv", "skipped", 4)]
    fx.check_fetched(local_frame(spark, ok, schema))
    statuses = local_frame(spark, ok + [("c.csv", "failed", 0)], schema)
    with pytest.raises(RuntimeError, match=r"\['c.csv'\]"):
        fx.check_fetched(statuses)


def test_fetch_to_landing_distributed_and_idempotent(spark, tmp_path):
    remote = _remote(tmp_path)
    state = tmp_path / "state"
    state.mkdir()
    landing = str(tmp_path / "landing")
    tasks = spark.createDataFrame(
        [(n, n) for n in CSVS], "task_id string, uri string"
    )
    factory = functools.partial(
        fx.local_flaky_fetcher, remote=remote, fail_times=1, state_dir=str(state)
    )
    status = {
        r["task_id"]: (r["status"], r["n_bytes"])
        for r in fx.fetch_to_landing(tasks, factory, landing).collect()
    }
    assert {k: v[0] for k, v in status.items()} == {n: "fetched" for n in CSVS}
    assert status["meter_a.csv"][1] == len(CSVS["meter_a.csv"])
    assert sorted(os.listdir(landing)) == sorted(CSVS)

    # second run: target-existence skip, no fetch attempts consumed
    before = {n: fx.FlakyFetcher(None, 0, str(state)).attempts(n) for n in CSVS}
    status2 = {
        r["task_id"]: r["status"]
        for r in fx.fetch_to_landing(tasks, factory, landing).collect()
    }
    assert status2 == {n: "skipped" for n in CSVS}
    after = {n: fx.FlakyFetcher(None, 0, str(state)).attempts(n) for n in CSVS}
    assert before == after


def test_datastore_idempotency_and_retry(tmp_path):
    root = str(tmp_path / "ds")
    state = tmp_path / "state"
    state.mkdir()
    ds = up.FilesystemDatastore(root)
    ds.upsert([{"k": 1, "v": 10, "seq": 1}], "0-0-0")
    ds.upsert([{"k": 1, "v": 99, "seq": 0}], "0-0-0")  # re-delivery: dropped
    assert ds.batches() == {"0-0-0": [{"k": 1, "v": 10, "seq": 1}]}
    ds.upsert([{"k": 1, "v": 7, "seq": 2}, {"k": 2, "v": 5, "seq": 1}], "0-0-1")
    assert ds.state("k", "seq") == {
        1: {"k": 1, "v": 7, "seq": 2},
        2: {"k": 2, "v": 5, "seq": 1},
    }

    flaky = up.FlakyDatastore(ds, 1, str(state))
    with pytest.raises(up.TransientUploadError):
        flaky.upsert([{"k": 3}], "0-0-2")
    flaky.upsert([{"k": 3, "v": 1, "seq": 1}], "0-0-2")  # retry succeeds
    assert flaky.attempts("0-0-2") == 2
    assert ds.batches()["0-0-2"] == [{"k": 3, "v": 1, "seq": 1}]


def test_bulk_upload_chunks_and_retries(spark, tmp_path):
    root = str(tmp_path / "ds")
    state = tmp_path / "state"
    state.mkdir()
    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"), F.lit(1).alias("seq")
    ).repartition(2)
    factory = functools.partial(
        up.local_flaky_datastore, root=root, fail_times=1, state_dir=str(state)
    )
    up.bulk_upload(df, factory, epoch_id=7, batch_size=3, max_attempts=3)

    ds = up.FilesystemDatastore(root)
    batches = ds.batches()
    # 10 rows over 2 partitions in chunks of ≤3; keys carry epoch+partition
    assert all(k.startswith("7-") for k in batches)
    assert all(len(recs) <= 3 for recs in batches.values())
    got = sorted((r["k"], r["v"]) for recs in batches.values() for r in recs)
    assert got == [(i, 2 * i) for i in range(10)]
    # every chunk needed exactly 2 attempts (1 injected failure + 1 success)
    flaky = up.FlakyDatastore(None, 0, str(state))
    assert all(flaky.attempts(k) == 2 for k in batches)


def test_fetch_parse_transform_upload_end_to_end(spark, tmp_path):
    """The reference's full loop with a transient failure injected at BOTH
    network edges: fetch (transport) and upload (datastore API)."""
    remote = _remote(tmp_path)
    fstate = tmp_path / "fstate"
    fstate.mkdir()
    ustate = tmp_path / "ustate"
    ustate.mkdir()
    landing = str(tmp_path / "landing")
    dsroot = str(tmp_path / "ds")

    # 1. fetch (flaky transport, retried)
    tasks = spark.createDataFrame(
        [(n, n) for n in CSVS], "task_id string, uri string"
    )
    ffactory = functools.partial(
        fx.local_flaky_fetcher, remote=remote, fail_times=2, state_dir=str(fstate)
    )
    fetched = fx.fetch_to_landing(tasks, ffactory, landing).collect()
    assert {r["status"] for r in fetched} == {"fetched"}

    # 2. parse + 3. transform: hourly kWh per meter -> daily totals
    raw = spark.read.csv(landing, header=True, inferSchema=True)
    daily = raw.groupBy("meter_id").agg(
        F.round(F.sum("kwh"), 6).alias("kwh_total"),
        F.count("*").alias("n_readings"),
        F.lit(1).alias("seq"),
    )

    # 4. upload (flaky API, retried; chunks of 2)
    ufactory = functools.partial(
        up.local_flaky_datastore, root=dsroot, fail_times=1, state_dir=str(ustate)
    )
    up.bulk_upload(daily.coalesce(1), ufactory, epoch_id=0, batch_size=2, max_attempts=4)

    state = up.FilesystemDatastore(dsroot).state("meter_id", "seq")
    assert {k: (v["kwh_total"], v["n_readings"]) for k, v in state.items()} == {
        "A": (4.0, 2), "B": (4.0, 1), "C": (1.5, 2),
    }
    # the transient failures actually happened (and were retried through)
    flaky = fx.FlakyFetcher(None, 0, str(fstate))
    assert all(flaky.attempts(n) == 3 for n in CSVS)


def test_upload_foreach_batch_stream(spark, tmp_path):
    """Streaming upload sink: file-source stream drained with availableNow,
    every record lands exactly once in the datastore."""
    remote = _remote(tmp_path)
    dsroot = str(tmp_path / "ds")
    ckpt = str(tmp_path / "ckpt")
    schema = "meter_id string, ts timestamp, kwh double"
    sdf = spark.readStream.schema(schema).option("header", True).csv(remote)
    factory = functools.partial(up.filesystem_datastore, root=dsroot)
    up.upload_foreach_batch(
        sdf.withColumn("seq", F.lit(1)), factory, ckpt, batch_size=2
    )
    ds = up.FilesystemDatastore(dsroot)
    got = sorted(
        (r["meter_id"], r["kwh"]) for recs in ds.batches().values() for r in recs
    )
    assert got == [("A", 1.5), ("A", 2.5), ("B", 4.0), ("C", 0.5), ("C", 1.0)]


# --- failure injection at 100+ tasks ----------------------------------------


def _wait_for_job_tasks_to_end(spark, first_job: int, last_job: int) -> None:
    """Block until no task of jobs ``first_job`` .. ``last_job - 1`` runs.

    A stage abort marks its job failed at once, but the sibling tasks it
    kills keep running in their Python workers until those finish or are
    destroyed; until then they still fetch, write tmp files and rename
    them. Each one's end reaches the status store as a task-end event, so
    once the listener bus is drained and every stage of the jobs reports
    no active task, nothing of those jobs touches the filesystem again.
    """
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 120
    while True:
        bus.waitUntilEmpty()
        stages = [
            sid
            for jid in range(first_job, last_job)
            if (job := tracker.getJobInfo(jid)) is not None
            for sid in job.stageIds
        ]
        infos = [tracker.getStageInfo(sid) for sid in stages]
        if all(info is None or info.numActiveTasks == 0 for info in infos):
            return
        if time.monotonic() > deadline:
            raise TimeoutError(f"tasks of jobs {first_job}..{last_job - 1} still run")
        time.sleep(0.05)


def test_fetch_120_tasks_partial_failure_then_replay(spark, tmp_path):
    """Late-arriving remotes: 10 of 120 task URIs don't exist yet, so the
    first distributed fetch fails permanently (no retry burned on 404s)
    after the healthy partitions landed their files; staging the missing
    remotes and re-running the SAME job completes the landing dir with
    every file fetched exactly once (skip consumes no attempts).

    The counts are taken only after every task of the failed job has
    ended (sibling tasks killed by the abort finish asynchronously), so
    they are exact whatever the kill timing."""
    remote = tmp_path / "remote"
    remote.mkdir()
    state = tmp_path / "state"
    state.mkdir()
    landing = str(tmp_path / "landing")
    names = [f"shard_{i:03d}.csv" for i in range(120)]
    for n in names[:110]:  # last 10 are late
        (remote / n).write_text(f"id,val\n{n},1\n")

    tasks = spark.createDataFrame(
        [(i, n, n) for i, n in enumerate(names)], "idx int, task_id string, uri string"
    ).repartitionByRange(4, "idx")  # the 10 late tasks share one partition
    factory = functools.partial(
        fx.local_flaky_fetcher, remote=str(remote), fail_times=1, state_dir=str(state)
    )

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    first_job = dag.nextJobId()
    with pytest.raises(Exception):  # missing remote -> permanent FetchError
        fx.fetch_to_landing(tasks.select("task_id", "uri"), factory, landing).collect()
    _wait_for_job_tasks_to_end(spark, first_job, dag.nextJobId())
    # the poisoned partition is range-partition 3 (idx 90..119): its tasks
    # 90..109 land before idx 110 raises; sibling partitions may be killed
    # mid-run by the stage abort — whatever landed is atomic and complete
    landed = set(os.listdir(landing))
    assert landed <= set(names[:110]) and len(landed) >= 20
    assert not any(n.startswith(".") for n in landed)  # no tmp debris
    probe = fx.FlakyFetcher(None, 0, str(state))
    assert all(probe.attempts(n) == 2 for n in sorted(landed))  # 1 fail + 1 ok

    for n in names[110:]:  # the late remotes arrive
        (remote / n).write_text(f"id,val\n{n},1\n")
    status = {
        r["task_id"]: r["status"]
        for r in fx.fetch_to_landing(
            tasks.select("task_id", "uri"), factory, landing
        ).collect()
    }
    assert {s for s in status.values()} == {"skipped", "fetched"}
    assert {t for t, s in status.items() if s == "skipped"} == landed
    assert sum(s == "fetched" for s in status.values()) == 120 - len(landed)
    assert sorted(os.listdir(landing)) == names
    assert all(probe.attempts(n) == 2 for n in sorted(landed))  # skips burn nothing


def test_bulk_upload_150_chunks_effectively_once(spark, tmp_path):
    """150 single-row chunks across 5 partitions, every chunk's first TWO
    upsert attempts rejected: retries must deliver each chunk exactly once
    (no duplicate records, no lost records, 3 attempts per key)."""
    root = str(tmp_path / "ds")
    state = tmp_path / "state"
    state.mkdir()
    df = (
        spark.range(0, 150)
        .select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
        .withColumn("seq", F.lit(1))
        .repartition(5, "k")
    )
    factory = functools.partial(
        up.local_flaky_datastore, root=root, fail_times=2, state_dir=str(state)
    )
    up.bulk_upload(df, factory, epoch_id=7, batch_size=1, max_attempts=4)

    ds = up.FilesystemDatastore(root)
    batches = ds.batches()
    assert len(batches) == 150  # one chunk per row, all delivered
    all_records = [r for recs in batches.values() for r in recs]
    assert len(all_records) == 150  # no duplicates, no losses
    assert {r["k"] for r in all_records} == set(range(150))
    flaky = up.FlakyDatastore(ds, 0, str(state))
    assert all(flaky.attempts(key) == 3 for key in batches)  # 2 fails + 1 ok
    assert all(key.startswith("7-") for key in batches)  # epoch in the key


def test_bulk_upload_full_replay_is_idempotent(spark, tmp_path):
    """The Spark-retry analogue: re-running the same epoch re-sends every
    chunk under the same {epoch}-{partition}-{chunk} keys and the
    datastore drops all of them — state and batch count are unchanged."""
    root = str(tmp_path / "ds")
    df = (
        spark.range(0, 120)
        .select(F.col("id").alias("k"), (F.col("id") + 1).alias("v"))
        .withColumn("seq", F.lit(1))
        .repartition(4, "k")
    )
    factory = functools.partial(up.filesystem_datastore, root=root)
    up.bulk_upload(df, factory, epoch_id=3, batch_size=8)
    ds = up.FilesystemDatastore(root)
    before = ds.batches()
    state_before = ds.state("k", "seq")
    assert len(state_before) == 120

    up.bulk_upload(df, factory, epoch_id=3, batch_size=8)  # replay
    assert ds.batches() == before
    assert ds.state("k", "seq") == state_before
