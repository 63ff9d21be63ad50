"""Streaming tests (SURVEY.md §5.2(3)): batch-equivalence for every pure
streaming transformation, plus controlled multi-batch scenarios (late-data
watermark drop, incremental dedup) that the bounded oracle replay can't
exercise."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from oeem_etl_spark.streaming import harness, ops
from oeem_etl_spark.streaming.source import events_stream
from oeem_etl_spark.catalog import load_table

SMALL_SF = "/root/testdata/sf0.001"


@pytest.fixture()
def ev_batch(spark):
    return load_table(spark, SMALL_SF, "events")


@pytest.fixture()
def ev_stream(spark):
    return events_stream(spark, SMALL_SF)


def _equiv(spark, transform, batch_df, stream_df, mode="complete"):
    harness.assert_batch_equivalent(spark, transform, batch_df, stream_df, mode)


def test_tumbling_batch_equivalence(spark, ev_batch, ev_stream):
    def tf(df):
        return ops.tumbling_agg(
            df, "1 hour", ["event_type"], [F.count(F.lit(1)).alias("cnt")]
        )

    _equiv(spark, tf, ev_batch, ev_stream)


def test_session_batch_equivalence(spark, ev_batch, ev_stream):
    def tf(df):
        return ops.session_agg(
            df, "30 minutes", ["user_id"], [F.count(F.lit(1)).alias("n")]
        )

    _equiv(spark, tf, ev_batch, ev_stream)


def test_dedup_batch_equivalence(spark, ev_batch, ev_stream):
    def tf(df):
        return ops.dedup_keys(df, ["user_id", "event_type"])

    _equiv(spark, tf, ev_batch, ev_stream, mode="append")


def test_stream_static_join_equivalence(spark, ev_batch, ev_stream, sf_dir):
    dim = load_table(spark, SMALL_SF, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )

    def tf(df):
        return (
            ops.enrich(df, dim, "user_id")
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    _equiv(spark, tf, ev_batch, ev_stream)


def _write_ordered_files(spark, tmpdir: str, batches):
    """One single-file parquet dir per micro-batch, with strictly increasing
    modification times so the file stream source replays them in order."""
    schema = "id long, ts_s string, user_id long"
    for i, rows in enumerate(batches):
        df = (
            spark.createDataFrame(rows, schema)
            .withColumn("ts", F.to_timestamp("ts_s"))
            .drop("ts_s")
            .coalesce(1)
        )
        part = os.path.join(tmpdir, f"batch{i}")
        df.write.mode("overwrite").parquet(part)
        for f in os.listdir(part):
            os.utime(os.path.join(part, f), (time.time() + i * 10, time.time() + i * 10))


_TWO_BATCHES = [
    [(1, "2024-01-01 10:00:00", 1), (2, "2024-01-01 10:05:00", 1), (3, "2024-01-01 10:59:00", 1)],
    [(4, "2024-01-01 11:30:00", 1), (5, "2024-01-01 09:30:00", 1)],
]


def test_watermark_drops_late_data(spark, tmp_path):
    """I4: a row behind the late-event watermark is excluded from its window.

    Spark filters late events with the PREVIOUS batch's watermark and evicts
    state with the current one (discovered empirically — a 2-batch scenario
    never drops anything), so the drop needs 3 batches:
    batch0 advances event time to 10:59; batch1 to 12:30 (its own late row
    at 05:00 is ACCEPTED — late-filter watermark is still epoch); batch2's
    05:10 row is behind the now-active 10:49 late-filter watermark → dropped.
    """
    d = str(tmp_path / "late")
    os.makedirs(d, exist_ok=True)
    _write_ordered_files(
        spark,
        d,
        [
            [(1, "2024-01-01 10:00:00", 1), (2, "2024-01-01 10:59:00", 1)],
            [(4, "2024-01-01 12:30:00", 1), (5, "2024-01-01 05:00:00", 1)],
            [(6, "2024-01-01 13:30:00", 1), (7, "2024-01-01 05:10:00", 1)],
        ],
    )
    schema = "id long, user_id long, ts timestamp"
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/batch*")
    )
    agg = ops.tumbling_agg(
        ops.with_watermark(sdf, "10 minutes"), "1 hour", [], [F.count(F.lit(1)).alias("cnt")]
    )
    out = harness.run_available_now(agg, "append").collect()
    got = {r["window_start"].strftime("%H:%M"): r["cnt"] for r in out}
    # 05:00 window holds ONLY row 5 (row 7 dropped as late); 13:00 window is
    # still open at termination so append mode withholds it.
    assert got == {"05:00": 1, "10:00": 2, "12:00": 1}, got


def test_dedup_within_watermark_multi_batch(spark, tmp_path):
    """I5 bounded-state variant: duplicate key in a later batch within the
    watermark horizon is suppressed."""
    d = str(tmp_path / "dd")
    os.makedirs(d, exist_ok=True)
    _write_ordered_files(spark, d, _TWO_BATCHES)
    schema = "id long, user_id long, ts timestamp"
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/batch*")
    )
    out = harness.run_available_now(
        ops.dedup_keys_within_watermark(sdf, ["user_id"], "2 hours"), "append"
    )
    assert out.count() == 1  # one distinct user across both batches


def test_running_totals_state_multi_batch(spark, tmp_path):
    """I6: state persists across micro-batches; final emission = batch agg."""
    d = str(tmp_path / "rt")
    os.makedirs(d, exist_ok=True)
    _write_ordered_files(spark, d, _TWO_BATCHES)
    schema = "id long, user_id long, ts timestamp"
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/batch*")
        .withColumn("value", F.col("id").cast("double"))
    )
    drained = harness.run_available_now(ops.running_totals_state(sdf), "update")
    rows = sorted(drained.collect(), key=lambda r: r["n_events"])
    # two batches → two emissions for user 1: (3, 6.0) then (5, 15.0)
    assert [(r["n_events"], r["total_value"]) for r in rows] == [(3, 6.0), (5, 15.0)]


def test_sliding_batch_equivalence(spark, ev_batch, ev_stream):
    def tf(df):
        return ops.sliding_agg(
            df, "1 hour", "30 minutes", ["event_type"], [F.count(F.lit(1)).alias("cnt")]
        )

    _equiv(spark, tf, ev_batch, ev_stream)


def test_interval_join_batch_equivalence(spark):
    """Stream-stream interval join ≡ the same join on batch inputs."""
    views_b = load_table(spark, SMALL_SF, "events").where(F.col("event_type") == "view")
    buys_b = load_table(spark, SMALL_SF, "events").where(F.col("event_type") == "purchase")
    views_s = events_stream(spark, SMALL_SF).where(F.col("event_type") == "view")
    buys_s = events_stream(spark, SMALL_SF).where(F.col("event_type") == "purchase")

    def out_cols(j):
        return j.select(
            F.col("l.event_id").alias("view_id"), F.col("r.event_id").alias("purchase_id")
        )

    want = sorted(
        map(tuple, out_cols(
            ops.interval_join_stream(views_b, buys_b, "user_id", "ts", "ts", "30 minutes")
        ).collect())
    )
    got_df = harness.run_available_now(
        out_cols(ops.interval_join_stream(views_s, buys_s, "user_id", "ts", "ts", "30 minutes")),
        "append",
    )
    got = sorted(map(tuple, got_df.collect()))
    assert got == want and len(got) > 0


def test_foreach_batch_upsert_equals_batch_keep_latest(spark, sf_dir, tmp_path):
    """Streaming upsert sink over multiple micro-batches must equal a
    single batch dedupe-keep-latest over the whole input (cross-batch the
    later batch wins; events are written to batch files in ts order)."""
    from oeem_etl_spark.catalog import load_table
    from oeem_etl_spark.operators.relational import dedupe_keep_latest_by
    from oeem_etl_spark.streaming.harness import foreach_batch_upsert

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") <= 30)
    cols = ["user_id", "event_type", "ts", "event_id", "value"]

    # three time-ordered chunks -> three source files -> 3 micro-batches
    src = str(tmp_path / "src")
    cut1, cut2 = "2024-01-10", "2024-01-20"
    chunks = [
        ev.where(F.col("ts") < cut1),
        ev.where((F.col("ts") >= cut1) & (F.col("ts") < cut2)),
        ev.where(F.col("ts") >= cut2),
    ]
    for i, ch in enumerate(chunks):
        ch.select(cols).coalesce(1).write.mode(
            "overwrite" if i == 0 else "append"
        ).parquet(src)

    target = str(tmp_path / "target")
    stream = (
        spark.readStream.schema(ev.select(cols).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*.parquet")
    )
    foreach_batch_upsert(
        stream, target, keys=["user_id", "event_type"], order_cols=["ts", "event_id"]
    )

    got = sorted(
        map(tuple, spark.read.parquet(target).select(cols).collect())
    )
    want = sorted(
        map(
            tuple,
            dedupe_keep_latest_by(
                ev.select(cols), ["user_id", "event_type"], ["ts", "event_id"]
            ).collect(),
        )
    )
    assert got == want


def test_checkpoint_resume_exactly_once(spark, sf_dir, tmp_path):
    """Real recovery semantics (A9/A10/I8): a file-source stream drains
    two files into a parquet sink (availableNow, checkpoint kept), then
    RESTARTS against the same checkpoint after two more files land. The
    committed source offsets must skip the already-processed files —
    every input row appears in the sink exactly once, matching the batch
    answer over all four files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from oeem_etl_spark.catalog import load_table

    src = tmp_path / "src"
    sink = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") < 2000)
        .select("event_id", "user_id", "value")
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    chunks = [ev.iloc[i::4].reset_index(drop=True) for i in range(4)]
    for i, chunk in enumerate(chunks[:2]):
        pq.write_table(pa.Table.from_pandas(chunk), src / f"chunk_{i}.parquet")

    schema = spark.read.parquet(str(src)).schema

    def run_phase():
        harness.drain(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .withColumn("boosted", F.col("value") * 2)
            .writeStream.format("parquet")
            .option("path", str(sink))
            .outputMode("append"),
            "phase",
            str(ckpt),
        )

    run_phase()
    n_phase1 = spark.read.parquet(str(sink)).count()
    assert n_phase1 == len(chunks[0]) + len(chunks[1])

    for i, chunk in enumerate(chunks[2:], start=2):
        pq.write_table(pa.Table.from_pandas(chunk), src / f"chunk_{i}.parquet")
    run_phase()

    got = spark.read.parquet(str(sink)).toPandas().sort_values("event_id")
    assert len(got) == len(ev), f"{len(got)} != {len(ev)} (reprocessed or lost rows)"
    assert got["event_id"].is_unique
    assert got["event_id"].tolist() == ev["event_id"].tolist()
    assert (got["boosted"].to_numpy() == ev["value"].to_numpy() * 2).all()


def test_python_stream_source_incremental_offsets(spark, tmp_path):
    """The Python DataSourceStreamReader's file-count offsets must carry
    across restarts via the checkpoint: phase 1 streams 3 landed XML
    files into a parquet sink; 2 more files land; phase 2 restarts with
    the same checkpoint and must append ONLY the new traces — 5 traces
    total, each exactly once."""
    from oeem_etl_spark.sources import pydatasource as pds

    landing = tmp_path / "landing"
    sink = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    landing.mkdir()
    pds.register(spark)

    def land(traces):
        for t in traces:
            (landing / f"{t}.xml").write_text(pds.synthetic_espi_xml(t))

    def drain():
        harness.drain(
            spark.readStream.format("espi_dir")
            .option("path", str(landing))
            .load()
            .writeStream.format("parquet")
            .option("path", str(sink))
            .outputMode("append"),
            "espi",
            str(ckpt),
        )

    land([0, 1, 2])
    drain()
    assert spark.read.parquet(str(sink)).count() == 3 * 24
    land([3, 4])
    drain()
    got = spark.read.parquet(str(sink)).toPandas()
    assert len(got) == 5 * 24, len(got)
    counts = got.groupby("trace_id").size()
    assert sorted(counts.index) == ["0", "1", "2", "3", "4"]
    assert (counts == 24).all(), counts.to_dict()


def test_latest_state_multi_batch_capture(spark, tmp_path):
    """I6 last-write face under a MULTI-batch drain: the
    winner is max(ts, event_id), so a later batch can re-emit a key at the
    SAME last_ts with a SMALLER value. 'Final emission per key' must come
    from the batch ordinal (foreach_batch_capture), not a payload-column
    tiebreak — (last_ts DESC, last_value DESC) would resurrect the stale
    9.0 here."""
    d = str(tmp_path / "lw")
    os.makedirs(d, exist_ok=True)
    # batch0: (event_id 5, ts 10:00, value 9.0); batch1 adds (event_id 7,
    # ts 10:00, value 3.0) -> winner by (ts, id) is id 7, value 3.0.
    _write_ordered_files(
        spark,
        d,
        [[(5, "2024-01-01 10:00:00", 1)], [(7, "2024-01-01 10:00:00", 1)]],
    )
    schema = "id long, user_id long, ts timestamp"
    # Values sit on exact half-micro boundaries, which also pins the
    # half-AWAY-from-zero micros quantization: 9.0000005 ->
    # 9.000001 (numpy half-to-even would give 9.0) and 0.0000025 -> 3e-06
    # (half-to-even would give 2e-06).
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/batch*")
        .withColumn(
            "value", F.when(F.col("id") == 5, 9.0000005).otherwise(0.0000025)
        )
        .withColumnRenamed("id", "event_id")
    )
    out = str(tmp_path / "lw_out")
    harness.foreach_batch_capture(ops.latest_state(sdf), out)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 2  # the key re-emitted in both batches
    final = max(rows, key=lambda r: r["_batch_id"])
    assert (final["user_id"], final["last_value"]) == (1, 3e-06)
    # the stale emission carries the larger value: the payload tiebreak
    # really would have picked the wrong row
    stale = min(rows, key=lambda r: r["_batch_id"])
    assert stale["last_value"] == 9.000001


def test_dedup_sliding_append_multi_batch(spark, tmp_path):
    """i74's chain under a REAL multi-batch drain: (user, 3h-bucket)
    dedup state persists across micro-batches (the batch-1 duplicate of
    a batch-0 pair must NOT bump any window), and append-mode sliding
    windows emit exactly the watermark-closed set at termination —
    including windows whose data arrived before the watermark advanced
    past their end (cross-batch accumulation)."""
    d = str(tmp_path / "dsl")
    os.makedirs(d, exist_ok=True)
    _write_ordered_files(
        spark,
        d,
        [
            [(1, "2024-01-02 01:00:00", 1), (2, "2024-01-02 02:00:00", 1)],
            [
                (3, "2024-01-02 01:30:00", 1),  # duplicate (user1, bk 00:00)
                (4, "2024-01-02 03:30:00", 1),
                (5, "2024-01-02 09:10:00", 2),
            ],
        ],
    )
    schema = "id long, user_id long, ts timestamp"
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/batch*")
        .withColumn(
            "bk",
            F.expr("timestampadd(HOUR, -(hour(ts) % 3), date_trunc('hour', ts))"),
        )
    )
    deduped = ops.dedup_keys(sdf, ["user_id", "bk"])
    out = ops.sliding_agg(
        ops.with_watermark(deduped, "10 minutes", ts_col="bk"),
        "6 hours",
        "3 hours",
        [],
        [F.count(F.lit(1)).alias("active")],
        ts_col="bk",
    )
    rows = harness.run_available_now(out, "append").collect()
    got = {r["window_start"].strftime("%d %H:%M"): r["active"] for r in rows}
    # final watermark = max(bk) - 10min = 09:00 - 10min = 08:50; windows
    # close when start + 6h <= 08:50: the 21:00(Jan 1) and 00:00 windows.
    # 00:00 counts TWO deduped pairs (user1@00:00 — batch-1 row 3 absorbed
    # by state — and user1@03:00); the 03:00/06:00/09:00 windows withhold.
    assert got == {"01 21:00": 1, "02 00:00": 2}, got


def test_session_append_merges_across_batches(spark, tmp_path):
    """i70's chain under a multi-batch drain: a batch-1 event inside the
    gap of a batch-0 OPEN session must MERGE into it (session-window
    state), and append mode emits exactly the sessions whose end (last
    event + gap) passed the final watermark."""
    d = str(tmp_path / "sess")
    os.makedirs(d, exist_ok=True)
    _write_ordered_files(
        spark,
        d,
        [
            [(1, "2024-01-01 10:00:00", 1), (2, "2024-01-01 10:10:00", 1)],
            [
                (3, "2024-01-01 10:30:00", 1),  # merges into the open session
                (4, "2024-01-01 12:00:00", 1),
                (5, "2024-01-01 12:30:00", 2),
            ],
        ],
    )
    schema = "id long, user_id long, ts timestamp"
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/batch*")
    )
    out = ops.session_agg(
        ops.with_watermark(sdf, "10 minutes"),
        "30 minutes",
        ["user_id"],
        [F.count(F.lit(1)).alias("n")],
    )
    rows = harness.run_available_now(out, "append").collect()
    got = {
        (r["user_id"], r["session_start"].strftime("%H:%M"),
         r["session_end"].strftime("%H:%M")): r["n"]
        for r in rows
    }
    # final watermark 12:30 - 10min = 12:20: only user1's MERGED morning
    # session (10:00 .. 10:30+30min = 11:00, THREE events across the two
    # batches) has closed; the 12:00 and 12:30 sessions withhold.
    assert got == {(1, "10:00", "11:00"): 3}, got


def test_quantize_micros_half_away_from_zero():
    """ONE quantization form across all state paths.
    The helper must round .5 ties AWAY from zero (Spark/DuckDB ROUND),
    where numpy .round / pandas .round(0) go half-to-even — 0.0000005
    and 1.5e-6-style ties are exactly where an earlier extremes
    .round(0) path diverged from the v1 operators."""
    import numpy as np

    got = ops.quantize_micros([0.0000005, 0.0000015, -0.0000005, -0.0000025, 2.5e-6])
    assert got.tolist() == [1, 2, -1, -3, 3]
    # numpy half-even would give [0, 2, 0, -2, 2] — assert we differ
    assert np.round(np.array([0.0000005]) * 1e6).astype("int64").tolist() == [0]
    # exact values pass through
    assert ops.quantize_micros([1.25, -3.5]).tolist() == [1_250_000, -3_500_000]


def test_sum_micros_skips_non_finite():
    """astype('int64') maps NaN to INT64_MIN
    silently; the sum paths skip NULL/NaN like SQL SUM, while inf — a
    genuine un-quantizable value, not a missing one — raises loudly."""
    import numpy as np
    import pytest as _pytest

    assert ops.sum_micros([1.0, float("nan"), 2.0]) == 3_000_000
    assert ops.sum_micros([float("nan")]) == 0  # empty accumulator delta
    assert ops.sum_micros([]) == 0
    with _pytest.raises(ValueError, match="inf"):
        ops.sum_micros([1.0, float("inf")])
    # sanity: the failure mode we are guarding against
    assert np.array([np.nan]).astype("int64")[0] == np.iinfo("int64").min


def test_micros_total_sql_sum_semantics(spark):
    """r9 review: the UDAF level carries SQL SUM's group semantics — an
    all-NULL group yields NULL (not 0), NULLs skip inside mixed groups."""
    from oeem_etl_spark.functions.udfs import micros_total

    df = spark.createDataFrame(
        [(1, 1.5), (1, None), (2, None), (2, None)],
        "k int, v double",
    )
    got = {
        r["k"]: r["m"]
        for r in df.groupBy("k").agg(micros_total("v").alias("m")).collect()
    }
    assert got == {1: 1_500_000, 2: None}, got


def test_extremes_state_skips_nan(spark, tmp_path):
    """r9 review: a NaN value (Arrow NULL) must not corrupt the envelope
    to INT64_MIN — MIN/MAX skip NULLs like SQL."""
    df = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", None), (2, "2024-01-01 10:01:00", 4.5),
         (3, "2024-01-01 10:02:00", 1.25)],
        "event_id long, ts string, value double",
    ).select(
        F.lit(7).alias("user_id"),
        F.col("ts").cast("timestamp").alias("ts"),
        "value",
    )
    d = str(tmp_path / "exnan")
    df.coalesce(1).write.mode("overwrite").parquet(d)
    sdf = spark.readStream.schema(df.schema).parquet(d)
    rows = harness.run_available_now(ops.extremes_state(sdf), "update").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["n_events"], r["min_value"], r["max_value"]) == (2, 1.25, 4.5)


def test_latest_state_tie_break_order_independent(spark, tmp_path):
    """On a FULL (ts, id) tie with different values, the winner
    must not depend on batch row order. The 3-level lexsort key
    (ts, id, micros) picks the max quantized value deterministically."""
    rows_a = [
        (7, "2024-01-01 10:00:00", 1.5),
        (7, "2024-01-01 10:00:00", 9.5),  # same (ts, id), larger value
    ]
    for order in (rows_a, rows_a[::-1]):
        df = spark.createDataFrame(
            [(r[0], r[1], r[2], 1) for r in order],
            "event_id long, ts string, value double, user_id long",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        d = str(tmp_path / f"tie{order[0][2]}")
        df.coalesce(1).write.mode("overwrite").parquet(d)
        sdf = spark.readStream.schema(df.schema).parquet(d)
        out_dir = str(tmp_path / f"out{order[0][2]}")
        harness.foreach_batch_capture(ops.latest_state(sdf), out_dir)
        got = spark.read.parquet(out_dir).collect()
        assert len(got) == 1
        assert got[0]["last_value"] == 9.5, (order, got)


def test_enrich_tumbling_multi_batch_capture(spark, tmp_path):
    """i75's chain under a 2-batch drain: the stream-static enrich joins
    EACH micro-batch against the dim, complete-mode tumbling counts grow
    across batches, and the foreachBatch capture's LAST batch equals the
    batch-mode aggregate over all input — the chain's exactly-the-batch-
    answer contract beyond the single-batch oracle run."""
    from oeem_etl_spark.streaming import harness, ops

    d = str(tmp_path / "enrich")
    os.makedirs(d, exist_ok=True)
    _write_ordered_files(
        spark,
        d,
        [
            [(1, "2024-01-01 10:00:00", 1), (2, "2024-01-01 11:00:00", 2)],
            [(3, "2024-01-02 09:00:00", 1), (4, "2024-01-01 23:00:00", 3)],
        ],
    )
    schema = "id long, user_id long, ts timestamp"
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/batch*")
    )
    dim = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 0)], "user_id long, pts int"
    )
    enriched = ops.enrich(sdf, F.broadcast(dim), "user_id").where(
        F.col("pts") > 0
    )
    out = ops.tumbling_agg(
        enriched,
        "1 day",
        [],
        [F.count(F.lit(1)).alias("n"), F.sum("pts").alias("pts")],
    )
    cap = str(tmp_path / "cap")
    harness.foreach_batch_capture(out, cap)
    drained = spark.read.parquet(cap)
    # update-mode consumer contract: last batch PER WINDOW (a global
    # last-batch filter drops windows the final micro-batch didn't touch
    # — the i75 bug this test caught)
    from pyspark.sql import Window

    wlast = Window.partitionBy("window_start").orderBy(
        F.col("_batch_id").desc()
    )
    final = (
        drained.withColumn("rn", F.row_number().over(wlast))
        .where(F.col("rn") == 1)
    )
    got = {
        str(r["window_start"]): (r["n"], r["pts"]) for r in final.collect()
    }
    # user 3's pts=0 row drops; day 1 has events 1 (10) + 2 (20); day 2
    # has event 3 (10). Event 4 belongs to user 3 -> filtered.
    assert got == {
        "2024-01-01 00:00:00": (2, 30),
        "2024-01-02 00:00:00": (1, 10),
    }, got


def test_dedup_sliding_typed_multi_batch(spark, tmp_path):
    """i76's dedup->sliding chain across batches: a key duplicated in a
    LATER batch must stay deduped by the streaming state (not re-counted
    in its windows), while a genuinely new key adds to both of its
    sliding windows."""
    from oeem_etl_spark.streaming import harness, ops

    d = str(tmp_path / "ds")
    os.makedirs(d, exist_ok=True)
    _write_ordered_files(
        spark,
        d,
        [
            [(1, "2024-01-01 10:00:00", 1)],
            [(2, "2024-01-01 10:20:00", 1),   # same (user, 30-min bucket) -> dup
             (3, "2024-01-01 10:40:00", 2)],  # new key, next bucket
        ],
    )
    schema = "id long, user_id long, ts timestamp"
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/batch*")
        .select(
            "user_id",
            F.timestamp_seconds(
                (F.unix_timestamp("ts") / 1800).cast("long") * 1800
            ).alias("hb"),
        )
    )
    deduped = ops.dedup_keys(sdf, ["user_id", "hb"])
    out = ops.sliding_agg(
        deduped,
        "60 minutes",
        "30 minutes",
        [],
        [F.count(F.lit(1)).alias("n")],
        ts_col="hb",
    )
    rows = harness.run_available_now(out, "complete").collect()
    got = {str(r["window_start"]): r["n"] for r in rows}
    # keys after dedup: (u1, 10:00) and (u2, 10:30). Each lands in two
    # 60/30 windows; the duplicate (u1, 10:00-bucket) row from batch 1
    # must NOT raise any count.
    assert got == {
        "2024-01-01 09:30:00": 1,
        "2024-01-01 10:00:00": 2,
        "2024-01-01 10:30:00": 1,
    }, got


# Every registered query whose stateful step runs an applyInPandasWithState
# function (streaming/ops.py: running_totals_state, latest_state,
# tiered_totals_state, extremes_state).
STATE_FN_QUERIES = [
    "i6_stateful_running_totals",
    "i15_streaming_tiered_totals",
    "i34_stateful_bucket_totals",
    "i61_stateful_extremes",
    "i62_stream_last_write",
    "i72_stream_dedup_state",
    "i77_extremes_firstlast",
]


@pytest.fixture()
def future_warnings_fail_workers(spark):
    """Python workers for UDFs created inside the test turn FutureWarning
    into an error. A UDF carries the SparkContext's ``environment`` as it
    is when the UDF is created, and Spark starts one worker pool per
    distinct environment."""
    env = spark.sparkContext.environment
    env["PYTHONWARNINGS"] = "error::FutureWarning"
    yield
    del env["PYTHONWARNINGS"]


@pytest.mark.parametrize("name", STATE_FN_QUERIES)
def test_state_functions_raise_no_pandas_future_warning(
    spark, sf_dir, name, future_warnings_fail_workers
):
    """pyspark pads each state-function output with an empty object frame
    before ``pd.concat``; typed output columns made pandas warn there
    (once per worker, 55 times in one sf0.01 registry sweep)."""
    from oeem_etl_spark import plans
    from oeem_etl_spark.plans import registry

    plans.load_all()
    assert registry.all_queries()[name].fn(spark, sf_dir).collect()


# ---------------------------------------------------------------------------
# harness.drain: bounded wait, no partial results, no leftovers


def _one_file_stream(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(0, 10).write.parquet(src)
    return spark.readStream.schema("id long").parquet(src)


def test_drain_timeout_stops_query_and_removes_checkpoint(spark, tmp_path, monkeypatch):
    """A drain still running at DRAIN_TIMEOUT_S raises instead of leaving
    a half-drained sink behind: the query is stopped and the throwaway
    checkpoint is gone."""
    ckpt_base = tmp_path / "ckpts"
    ckpt_base.mkdir()
    monkeypatch.setattr(harness, "DRAIN_TIMEOUT_S", 1)
    monkeypatch.setattr(harness, "_CKPT_BASE", str(ckpt_base))

    def slow_sink(batch_df, batch_id):
        time.sleep(4)

    writer = _one_file_stream(spark, tmp_path).writeStream.foreachBatch(slow_sink)
    with pytest.raises(TimeoutError, match="slow drain exceeded 1s"):
        harness.drain(writer, "slow")
    assert spark.streams.active == []
    assert list(ckpt_base.iterdir()) == []


def test_run_available_now_leaves_no_sink_view(spark, tmp_path):
    """The memory sink's temp view is dropped on return; the returned frame
    and frames derived from it still collect."""
    out = harness.run_available_now(_one_file_stream(spark, tmp_path), "append")
    names = [t.name for t in spark.catalog.listTables()]
    assert not [n for n in names if n.startswith("oeem_stream_")], names
    assert sorted(r["id"] for r in out.collect()) == list(range(10))
    assert out.where(F.col("id") % 2 == 0).count() == 5


def test_i10_streaming_cms_leaves_no_checkpoint_dir(spark):
    """i10 drains through a throwaway checkpoint, so it adds no directory
    where throwaway checkpoints live (leftovers already there are not
    counted against it)."""
    import tempfile

    from oeem_etl_spark.plans.streaming_queries import i10_streaming_cms

    base = harness._CKPT_BASE or tempfile.gettempdir()

    def dirs():
        return {e.name for e in os.scandir(base) if e.is_dir()}

    before = dirs()
    assert i10_streaming_cms(spark, SMALL_SF).count() == 5
    assert dirs() - before == set()


def test_drain_keeps_caller_checkpoint_and_restart_is_a_no_op(spark, tmp_path):
    """The a22 replay contract: a caller's checkpoint survives the drain,
    and a restart over it with no new input runs no batch."""
    ckpt = str(tmp_path / "ckpt")
    batches = []
    sdf = _one_file_stream(spark, tmp_path)

    def sink(batch_df, batch_id):
        batches.append((batch_id, batch_df.count()))

    harness.drain(sdf.writeStream.foreachBatch(sink), "keep", ckpt)
    assert batches == [(0, 10)]
    assert os.listdir(os.path.join(ckpt, "commits"))
    harness.drain(sdf.writeStream.foreachBatch(sink), "keep", ckpt)
    assert batches == [(0, 10)]
