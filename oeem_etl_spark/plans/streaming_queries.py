"""Declared streaming queries (SURVEY.md §2.I, §2.A9-A10).

Streaming is still oracle-checkable here because every operator is a PURE
transformation (streaming/ops.py) drained with ``availableNow`` over a
static directory: the final sink contents equal the batch answer, which IS
ANSI-SQL-expressible. DuckDB equivalents used:

- tumbling window  → ``time_bucket(INTERVAL, ts)``
- sliding window   → unnest of the duration/slide candidate window starts
- session window   → gaps-and-islands (lag + cumulative sum of gap breaks)
- watermark append → closed windows only: window_end <= max(ts) - delay
- stateful totals  → plain GROUP BY (exact integer-micro accumulation)

Each query re-runs its own bounded streaming job (seconds at sf0.01); the
same transformations on a true unbounded source only need a different
trigger. Boundary-exact ties (event exactly gap-apart, watermark exactly on
a window edge) would be engine-convention-sensitive, but fixture timestamps
carry microsecond noise, so ties have ~zero probability.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from oeem_etl_spark.plans import xxh64_sql
from oeem_etl_spark.plans.registry import query
from oeem_etl_spark.plans.util import T, dsum, sql_dsum
from oeem_etl_spark.streaming import harness, ops
from oeem_etl_spark.streaming.source import events_stream, file_stream

# pid-scoped: two concurrent verify sweeps sharing one sink/checkpoint
# directory corrupt each other's streaming state (observed as spurious
# a10/a13 mismatches when sweeps overlap).
_TMP = os.path.join(tempfile.gettempdir(), f"oeem_etl_spark_stream_{os.getpid()}")

_CAST_TS = "CAST(ts AS TIMESTAMP)"


@query(
    "i1_tumbling_window",
    sql=f"""
    SELECT time_bucket(INTERVAL '1 hour', {_CAST_TS}) AS window_start,
           event_type, COUNT(*) AS cnt, {sql_dsum("value", "sum_value")}
    FROM events GROUP BY window_start, event_type
    """,
    tier="T3",
    survey="I1,I8,A9",
)
def i1_tumbling_window(spark, sf_dir):
    """Hourly tumbling counts/sums per event type, complete mode."""
    sdf = events_stream(spark, sf_dir)
    out = ops.tumbling_agg(
        sdf, "1 hour", ["event_type"], [F.count(F.lit(1)).alias("cnt"), dsum("value", "sum_value")]
    )
    return harness.run_available_now(out, "complete")


@query(
    "i2_sliding_window",
    sql=f"""
    WITH cand AS (
      SELECT unnest([time_bucket(INTERVAL '30 minutes', {_CAST_TS}),
                     time_bucket(INTERVAL '30 minutes', {_CAST_TS}) - INTERVAL '30 minutes'
                    ]) AS window_start,
             event_type, value
      FROM events
    )
    SELECT window_start, event_type, COUNT(*) AS cnt, {sql_dsum("value", "sum_value")}
    FROM cand GROUP BY window_start, event_type
    """,
    tier="T3",
    survey="I2",
)
def i2_sliding_window(spark, sf_dir):
    """1-hour windows sliding every 30 minutes (each event in 2 windows)."""
    sdf = events_stream(spark, sf_dir)
    out = ops.sliding_agg(
        sdf,
        "1 hour",
        "30 minutes",
        ["event_type"],
        [F.count(F.lit(1)).alias("cnt"), dsum("value", "sum_value")],
    )
    return harness.run_available_now(out, "complete")


@query(
    "i3_session_window",
    sql=f"""
    WITH marked AS (
      SELECT user_id, {_CAST_TS} AS ts,
             CASE WHEN {_CAST_TS} - LAG({_CAST_TS}) OVER w > INTERVAL '30 minutes'
                    OR LAG({_CAST_TS}) OVER w IS NULL
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, sid
    """,
    tier="T3",
    survey="I3",
)
def i3_session_window(spark, sf_dir):
    """Gap-based sessionization (30-minute inactivity) per user."""
    sdf = events_stream(spark, sf_dir)
    out = ops.session_agg(sdf, "30 minutes", ["user_id"], [F.count(F.lit(1)).alias("n_events")])
    return harness.run_available_now(out, "complete")


@query(
    "i4_watermark_append",
    sql=f"""
    SELECT time_bucket(INTERVAL '6 hours', {_CAST_TS}) AS window_start,
           COUNT(*) AS cnt
    FROM events
    GROUP BY window_start
    HAVING window_start + INTERVAL '6 hours'
           <= (SELECT MAX({_CAST_TS}) - INTERVAL '10 minutes' FROM events)
    """,
    tier="T3",
    survey="I4,I8",
)
def i4_watermark_append(spark, sf_dir):
    """Watermarked append-mode agg: only windows the 10-minute watermark has
    closed are emitted; the trailing open window is withheld (= dropped-late
    -data semantics made visible on a bounded replay)."""
    sdf = ops.with_watermark(events_stream(spark, sf_dir), "10 minutes")
    out = ops.tumbling_agg(sdf, "6 hours", [], [F.count(F.lit(1)).alias("cnt")])
    return harness.run_available_now(out, "append")


@query(
    "i5_streaming_dedup",
    sql="SELECT DISTINCT user_id, event_type FROM events",
    tier="T3",
    survey="I5",
)
def i5_streaming_dedup(spark, sf_dir):
    """Streaming exactly-once key dedup (state = one row per seen key)."""
    sdf = events_stream(spark, sf_dir)
    out = ops.dedup_keys(sdf, ["user_id", "event_type"])
    return harness.run_available_now(out, "append")


@query(
    "i6_stateful_running_totals",
    sql=f"""
    SELECT user_id, COUNT(*) AS n_events, {sql_dsum("value", "total_value")}
    FROM events GROUP BY user_id
    """,
    tier="T3",
    survey="I6,J5",
)
def i6_stateful_running_totals(spark, sf_dir):
    """Arbitrary per-key state machine (applyInPandasWithState): running
    (count, exact-micros total) per user, update mode; the last emission per
    key equals the batch aggregate exactly."""
    sdf = events_stream(spark, sf_dir)
    updates = ops.running_totals_state(sdf)
    drained = harness.run_available_now(updates, "update")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        drained.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "i7_stream_static_join",
    sql="""
    SELECT c.c_mktsegment, COUNT(*) AS cnt
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    tier="T3",
    survey="I7",
)
def i7_stream_static_join(spark, sf_dir):
    """Enrich the stream with a broadcast static dimension, then aggregate."""
    sdf = events_stream(spark, sf_dir)
    dim = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    out = (
        ops.enrich(sdf, dim, "user_id")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return harness.run_available_now(out, "complete")


@query(
    "i8_update_mode_rollup",
    sql=f"""
    SELECT time_bucket(INTERVAL '1 day', {_CAST_TS}) AS window_start,
           event_type, COUNT(*) AS cnt
    FROM events GROUP BY window_start, event_type
    """,
    tier="T3",
    survey="I8",
)
def i8_update_mode_rollup(spark, sf_dir):
    """Update-mode daily rollup; per (window, type) the highest-count
    emission is the final state (counts grow monotonically)."""
    sdf = events_stream(spark, sf_dir)
    out = ops.tumbling_agg(sdf, "1 day", ["event_type"], [F.count(F.lit(1)).alias("cnt")])
    drained = harness.run_available_now(out, "update")
    from pyspark.sql import Window

    w = Window.partitionBy("window_start", "event_type").orderBy(F.col("cnt").desc())
    return (
        drained.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "a10_foreach_batch_sink",
    sql="""
    SELECT event_id, user_id, event_type FROM events WHERE event_type = 'purchase'
    """,
    tier="T3",
    survey="A10",
)
def a10_foreach_batch_sink(spark, sf_dir):
    """foreachBatch sink (the REST-bulk-upload analogue): every micro-batch
    is a bounded DataFrame handed to arbitrary Python; here appended to
    parquet, then read back for verification."""
    path = os.path.join(_TMP, "a10_sink")
    shutil.rmtree(path, ignore_errors=True)
    sdf = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "event_type")
    )
    harness.foreach_batch_to_parquet(sdf, path)
    return spark.read.parquet(path)


@query(
    "i9_stream_stream_join",
    sql=f"""
    SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
           {_CAST_TS.replace('ts', 'p.ts')} AS purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND CAST(p.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
     AND CAST(p.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL '30 minutes'
    """,
    tier="T3",
    survey="I7,I4,C6",
)
def i9_stream_stream_join(spark, sf_dir):
    """Stream-stream interval join: purchases within 30 minutes after a
    view by the same user; both sides are watermarked streams, state
    bounded by the time-range condition."""
    views = events_stream(spark, sf_dir).where(F.col("event_type") == "view")
    purchases = events_stream(spark, sf_dir).where(F.col("event_type") == "purchase")
    joined = ops.interval_join_stream(
        views, purchases, "user_id", "ts", "ts", "30 minutes"
    )
    out = joined.select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.event_id").alias("view_id"),
        F.col("r.event_id").alias("purchase_id"),
        F.col("r.ts").alias("purchase_ts"),
    )
    return harness.run_available_now(out, "append")


@query(
    "a13_streaming_upsert_sink",
    sql="""
    SELECT user_id, event_type, event_id, value FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) = 1
    """,
    tier="T3",
    survey="A10,K6,D12",
)
def a13_streaming_upsert_sink(spark, sf_dir):
    """Streaming upsert sink (A10 × K6): the event stream is replayed as
    3 micro-batches through foreach_batch_upsert; the parquet target must
    end up exactly keep-latest-per-key — the reference's incremental
    fetch→upsert→datastore loop, order-independent by construction (the
    per-batch merge is commutative)."""
    src = os.path.join(_TMP, "a13_src")
    target = os.path.join(_TMP, "a13_target")
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(target, ignore_errors=True)
    shutil.rmtree(target + ".tmp", ignore_errors=True)

    ev = T(spark, sf_dir, "events")
    cols = ["user_id", "event_type", "ts", "event_id", "value"]
    cut1 = F.lit("2024-01-10").cast("timestamp")
    cut2 = F.lit("2024-01-20").cast("timestamp")
    chunks = [
        ev.where(F.col("ts") < cut1),
        ev.where((F.col("ts") >= cut1) & (F.col("ts") < cut2)),
        ev.where(F.col("ts") >= cut2),
    ]
    for i, ch in enumerate(chunks):
        ch.select(cols).coalesce(1).write.mode(
            "overwrite" if i == 0 else "append"
        ).parquet(src)

    sdf = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "*.parquet"))
    )
    harness.foreach_batch_upsert(
        sdf, target, keys=["user_id", "event_type"], order_cols=["ts", "event_id"]
    )
    return spark.read.parquet(target).select("user_id", "event_type", "event_id", "value")


@query(
    "i10_streaming_cms",
    # Full value oracle (promoted from rows-only this round): CMS is a
    # linear sketch, so the per-batch cell frames summed at read time
    # equal the batch sketch of the whole stream (pinned exactly in
    # tests/test_clustering.py::test_streaming_cms_equals_batch), and the
    # batch sketch is deterministic given the hash — which
    # plans/xxh64_sql.py reproduces in DuckDB bit-for-bit. Probes union
    # into the hashed value set so a user absent from events still gets
    # its (r, bucket) cells (Spark's left join + coalesce-0 path).
    sql=f"""
    WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS user_id FROM events),
    pr AS (SELECT CAST(i AS VARCHAR) AS user_id FROM generate_series(1, 5) t(i)),
    du AS (SELECT DISTINCT user_id FROM ev UNION SELECT user_id FROM pr),
    {xxh64_sql.cms_cells_cte('du', 'user_id')},
    tb AS (SELECT user_id, r, bucket FROM cmtb),
    cx AS (SELECT e.user_id, tb.r, tb.bucket FROM ev e JOIN tb USING (user_id)),
    cms AS (SELECT r, bucket, COUNT(*) AS cnt FROM cx GROUP BY r, bucket)
    SELECT user_id, MIN(COALESCE(cms.cnt, 0)) AS est
    FROM pr JOIN tb USING (user_id)
    LEFT JOIN cms USING (r, bucket)
    GROUP BY user_id
    ORDER BY user_id
    """,
    tier="T3",
    survey="I8,D7,D8",
)
def i10_streaming_cms(spark, sf_dir):
    """Streaming count-min sketch: each micro-batch contributes its own
    (row, bucket, cnt) cell frame via foreachBatch; because CMS is a
    linear sketch, appending per-batch cells and summing at read time is
    EXACTLY the sketch of the full stream — the persist-partial-sketches
    pattern under continuous ingest (no per-key state store needed at
    all; state is the bounded cell frame). Output: estimated event
    counts for users 1..5."""
    from oeem_etl_spark.operators import sketch

    cells_dir = os.path.join(_TMP, "i10_cells")
    shutil.rmtree(cells_dir, ignore_errors=True)
    sdf = events_stream(spark, sf_dir).select(F.col("user_id").cast("string"))

    def sink(batch_df, batch_id):
        sketch.cms_build(batch_df, "user_id").write.mode("append").parquet(
            cells_dir
        )

    harness.drain(sdf.writeStream.foreachBatch(sink), "i10")
    merged = spark.read.parquet(cells_dir).groupBy("row", "bucket").agg(
        F.sum("cnt").alias("cnt")
    )
    probes = spark.range(1, 6).select(F.col("id").cast("string").alias("user_id"))
    return sketch.cms_estimate(merged, probes, "user_id").orderBy("user_id")


@query(
    "i11_rocksdb_window",
    sql=f"""
    SELECT time_bucket(INTERVAL '1 hour', {_CAST_TS}) AS window_start,
           event_type, COUNT(*) AS cnt, {sql_dsum("value", "sum_value")}
    FROM events GROUP BY window_start, event_type
    """,
    tier="T3",
    survey="I1,I6,I8",
)
def i11_rocksdb_window(spark, sf_dir):
    """i1's hourly tumbling aggregation on the RocksDB state store
    provider — the at-scale state backend (state lives off-heap /
    on-disk with incremental snapshots, so per-executor state is bounded
    by disk, not heap — the 100 TB streaming configuration). Results
    must be identical to the default HDFS-backed provider, and the same
    i1 oracle checks them. The provider conf is scoped to this query:
    the stream fully drains inside run_available_now, then the previous
    value is restored."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)  # None when the provider conf is unset
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        sdf = events_stream(spark, sf_dir)
        out = ops.tumbling_agg(
            sdf,
            "1 hour",
            ["event_type"],
            [F.count(F.lit(1)).alias("cnt"), dsum("value", "sum_value")],
        )
        return harness.run_available_now(out, "complete")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


@query(
    "i12_stream_outer_join",
    sql="""
    WITH v AS (
      SELECT event_id AS view_id, user_id, ts AS vts FROM events
      WHERE event_type = 'view' AND ts < TIMESTAMP '2024-01-28'
    ),
    p AS (
      SELECT event_id AS purchase_id, user_id, ts AS pts FROM events
      WHERE event_type = 'purchase'
    )
    SELECT v.user_id, v.view_id, p.purchase_id
    FROM v LEFT JOIN p
      ON v.user_id = p.user_id
     AND p.pts >= v.vts AND p.pts <= v.vts + INTERVAL 30 MINUTE
    WHERE p.purchase_id IS NOT NULL
       OR v.vts + INTERVAL 90 MINUTE < (SELECT max(vts) FROM v)
    """,
    tier="T3",
    survey="I7,C2,C6",
)
def i12_stream_outer_join(spark, sf_dir):
    """LEFT OUTER stream-stream interval join — the null-emitting sibling
    of i9: views with no purchase within 30 minutes surface with a null
    purchase id once the watermark passes their join horizon.

    Batch-equivalence requires mirroring Spark's multi-watermark
    semantics in the oracle: with two watermarked inputs the query
    watermark is the MIN over both (multipleWatermarkPolicy=min), i.e.
    max(view ts) − 1h here, and an unmatched view emits only when its
    horizon (vts + 30min) falls below that — the oracle's WHERE clause
    states exactly that rule (matched rows always; unmatched iff
    vts + 90min < max view ts). Verified against the drained stream at
    every fixture sf, where the withheld tail is genuinely non-empty.

    The oracle hard-codes two data-dependent facts, checked below before
    the stream runs so a fixture change fails loudly instead of silently
    diverging: (1) the min multi-watermark is the VIEW side — requires
    max(purchase ts) >= max(filtered view ts); (2) no view's exact
    emission horizon lands ON the watermark boundary (the oracle's strict
    '<' vs Spark's boundary handling would disagree at equality)."""
    cutoff = F.lit("2024-01-28").cast("timestamp")
    ev = T(spark, sf_dir, "events")
    is_view = (F.col("event_type") == "view") & (F.col("ts") < cutoff)
    mx = ev.agg(
        F.max(F.when(is_view, F.col("ts"))).alias("mv"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("mp"),
    ).first()
    if mx["mp"] < mx["mv"]:
        raise RuntimeError(
            f"i12 oracle invariant broken: max purchase ts {mx['mp']} < max view ts "
            f"{mx['mv']} — the min multi-watermark would be the purchase side and "
            "the oracle's emission rule no longer models Spark"
        )
    on_boundary = ev.where(
        is_view & (F.col("ts") + F.expr("INTERVAL 90 MINUTES") == F.lit(mx["mv"]))
    ).count()
    if on_boundary != 0:
        raise RuntimeError(
            "i12 oracle invariant broken: a view's emission horizon equals the "
            "watermark boundary exactly — the oracle's strict '<' and Spark "
            "disagree at equality"
        )
    views = events_stream(spark, sf_dir).where(
        (F.col("event_type") == "view") & (F.col("ts") < cutoff)
    )
    purchases = events_stream(spark, sf_dir).where(F.col("event_type") == "purchase")
    joined = ops.interval_join_stream(
        views, purchases, "user_id", "ts", "ts", "30 minutes", how="left_outer"
    )
    out = joined.select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.event_id").alias("view_id"),
        F.col("r.event_id").alias("purchase_id"),
    )
    return harness.run_available_now(out, "append")


@query(
    "i17_replay_dedup_sliding",
    sql=f"""
    WITH cand AS (
      SELECT unnest([time_bucket(INTERVAL '30 minutes', {_CAST_TS}),
                     time_bucket(INTERVAL '30 minutes', {_CAST_TS}) - INTERVAL '30 minutes'
                    ]) AS window_start,
             event_type, value
      FROM events
    )
    SELECT window_start, event_type, COUNT(*) AS cnt, {sql_dsum("value", "sum_value")}
    FROM cand GROUP BY window_start, event_type
    """,
    tier="T3",
    survey="I5,I2",
)
def i17_replay_dedup_sliding(spark, sf_dir):
    """Chained stateful operators — at-least-once ingest made exactly-once:
    the source is read TWICE (two independent file-stream instances
    unioned = a simulated replayed/duplicated feed), I5 streaming dedup on
    event_id collapses the copies, and the deduped stream flows into the
    I2 sliding-window aggregation (1 h windows every 30 min) WITHIN THE
    SAME streaming query — Spark's supported dedup-before-aggregation
    stateful chain. The oracle is the single-copy batch answer: if the
    dedup state failed to suppress the replay, every count/sum doubles."""
    s1 = events_stream(spark, sf_dir)
    s2 = events_stream(spark, sf_dir)
    replayed = s1.unionByName(s2)
    deduped = replayed.dropDuplicates(["event_id"])
    out = ops.sliding_agg(
        deduped,
        "1 hour",
        "30 minutes",
        ["event_type"],
        [F.count(F.lit(1)).alias("cnt"), dsum("value", "sum_value")],
    )
    return harness.run_available_now(out, "complete")


@query(
    "i14_bounded_dedup_window",
    sql=f"""
    SELECT time_bucket(INTERVAL '6 hours', {_CAST_TS}) AS window_start,
           COUNT(*) AS cnt
    FROM events
    GROUP BY window_start
    HAVING window_start + INTERVAL '6 hours'
           <= (SELECT MAX({_CAST_TS}) - INTERVAL '10 minutes' FROM events)
    """,
    tier="T3",
    survey="I5,I4",
)
def i14_bounded_dedup_window(spark, sf_dir):
    """The PRODUCTION shape of i13: at-least-once replay (double-read
    source) made exactly-once with BOUNDED state —
    ``dropDuplicatesWithinWatermark`` GCs dedup keys once the 10-minute
    watermark passes them (i13's plain dropDuplicates keeps every seen key
    forever), then the deduped stream feeds a watermarked tumbling window
    in APPEND mode, so the watermark must propagate correctly through the
    chained stateful pair: only closed windows emit, the trailing open
    window is withheld. Replay copies arrive in the same micro-batch set,
    well inside the watermark delay, so the oracle is the single-copy
    closed-window batch answer; doubled counts = dedup state GC'd too
    early, missing trailing window = propagation bug."""
    s1 = events_stream(spark, sf_dir)
    s2 = events_stream(spark, sf_dir)
    replayed = s1.unionByName(s2)
    deduped = ops.dedup_keys_within_watermark(
        replayed, ["event_id"], "10 minutes"
    )
    out = ops.tumbling_agg(deduped, "6 hours", [], [F.count(F.lit(1)).alias("cnt")])
    return harness.run_available_now(out, "append")


@query(
    "a22_snapshot_stream_commits",
    sql="""
    SELECT event_id, user_id, value FROM events
    """,
    tier="T3",
    survey="A10,A6,I8",
)
def a22_snapshot_stream_commits(spark, sf_dir):
    """Streaming sink onto the snapshot table format (A10 × A6): each
    micro-batch commits as one manifest version carrying its batch_id,
    which makes replayed batches no-ops — foreachBatch exactly-once on
    the table-format layer instead of ad-hoc directory swaps. The stream
    is the events table replayed file-by-file; the final snapshot must
    equal the batch table exactly (the oracle), and every intermediate
    version stays time-travel-readable (asserted in
    tests/test_snapshots.py along with the replay no-op)."""
    import shutil

    from oeem_etl_spark.sources.snapshots import SnapshotTable

    src = os.path.join(_TMP, f"a22_src_{os.path.basename(sf_dir)}")
    root = os.path.join(_TMP, f"a22_tbl_{os.path.basename(sf_dir)}")
    ckpt = os.path.join(_TMP, f"a22_ckpt_{os.path.basename(sf_dir)}")
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    ev = T(spark, sf_dir, "events").select("event_id", "user_id", "value")
    ev.repartition(3).write.parquet(src)

    table = SnapshotTable(root)
    sdf = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "*.parquet"))
    )
    harness.drain(
        sdf.writeStream.foreachBatch(
            lambda bdf, bid: table.commit(bdf, mode="append", batch_id=bid) and None
        ),
        "a22",
        ckpt,
    )
    return table.read(spark)


@query(
    "i15_streaming_tiered_totals",
    sql="""
    WITH t AS (
      SELECT user_id, COUNT(*) AS n_events,
             CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT) AS m
      FROM events GROUP BY user_id
    )
    SELECT user_id, n_events,
           ROUND(m / 1000000.0, 6) AS total_units,
           ROUND(LEAST(m, 1500000000) / 1000000.0, 6) AS t1_units,
           ROUND((LEAST(m, 3500000000) - LEAST(m, 1500000000)) / 1000000.0, 6)
             AS t2_units,
           ROUND(GREATEST(m - 3500000000, 0) / 1000000.0, 6) AS t3_units
    FROM t
    """,
    tier="T3",
    survey="I6,J5,K-ext",
)
def i15_streaming_tiered_totals(spark, sf_dir):
    """Streaming progressive-tier accumulation (streaming/ops.
    tiered_totals_state): one long of per-key state, tier split
    re-derived from the clamped running total each micro-batch — the
    final emission per key equals the batch LEAST/GREATEST allocation
    exactly because block allocation is a function of the final total
    alone. Update mode; last emission per key selected by max n_events."""
    from pyspark.sql import Window

    sdf = events_stream(spark, sf_dir)
    updates = ops.tiered_totals_state(sdf)
    drained = harness.run_available_now(updates, "update")
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        drained.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "i13_stream_user_buckets",
    sql=f"""
    SELECT time_bucket(INTERVAL '6 hours', {_CAST_TS}) AS window_start,
           user_id % 8 AS ubucket, COUNT(*) AS cnt,
           {sql_dsum("value", "sum_value")}
    FROM events GROUP BY window_start, ubucket
    """,
    tier="T3",
    survey="A9,I1,I8",
)
def i13_stream_user_buckets(spark, sf_dir):
    """Second tumbling-window rollup next to i1, rotated onto different
    axes: 6-hour windows (epoch-aligned, so time_bucket agrees) and a
    derived bucket key (user_id % 8) instead of a raw column — the
    pre-aggregated-fan-in shape a 1000-executor streaming job uses to
    bound per-key state."""
    sdf = events_stream(spark, sf_dir).withColumn(
        "ubucket", F.col("user_id") % 8
    )
    out = ops.tumbling_agg(
        sdf,
        "6 hours",
        ["ubucket"],
        [F.count(F.lit(1)).alias("cnt"), dsum("value", "sum_value")],
    )
    return harness.run_available_now(out, "complete")


@query(
    "i16_stream_dynamic_session",
    sql=f"""
    WITH base AS (
      SELECT user_id, epoch_us({_CAST_TS}) AS tu,
             CASE WHEN event_type = 'error' THEN 600000000
                  ELSE 1800000000 END AS gap_us
      FROM events
    ),
    marked AS (
      SELECT user_id, tu, gap_us,
             MAX(tu + gap_us) OVER (PARTITION BY user_id ORDER BY tu
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      FROM base
    ),
    isl AS (
      SELECT user_id, tu, gap_us,
             CAST(SUM(CASE WHEN pmax IS NULL OR tu > pmax THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY tu
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS sid
      FROM marked
    )
    SELECT user_id, CAST(MIN(tu) AS BIGINT) AS session_start_us,
           CAST(MAX(tu + gap_us) AS BIGINT) AS session_end_us,
           COUNT(*) AS n_events
    FROM isl GROUP BY user_id, sid
    """,
    tier="T3",
    survey="I3,B4",
)
def i16_stream_dynamic_session(spark, sf_dir):
    """STREAMING dynamic-gap sessions: the same per-event gap expression
    as batch k11c (error events hold sessions 10 min, others 30) run
    through Structured Streaming's session_window merge state and
    drained with availableNow — the stream must equal the batch
    interval-union oracle exactly (same strict-boundary rule)."""
    sdf = events_stream(spark, sf_dir)
    gap = F.when(F.col("event_type") == "error", F.lit("10 minutes")).otherwise(
        F.lit("30 minutes")
    )
    out = ops.session_agg(
        sdf, gap, ["user_id"], [F.count(F.lit(1)).alias("n_events")]
    )
    res = harness.run_available_now(out, "complete")
    return res.select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
    )
