"""Streaming execution harness: drain-to-table and batch-equivalence.

``drain`` is the one way to run an availableNow query. It sets the
checkpoint location, starts the writer with ``trigger(availableNow=True)``
and waits up to ``DRAIN_TIMEOUT_S`` seconds. availableNow processes
everything currently in the source (possibly as several micro-batches,
honoring maxFilesPerTrigger) and then stops — Spark's sanctioned pattern
for incremental batch jobs. The rules:

- a query still running at the timeout is stopped and ``drain`` raises
  ``TimeoutError``, so a caller never reads a partial result (an
  interrupted wait stops the query too);
- a failed query raises from ``drain`` (``StreamingQueryException``);
- a caller's ``checkpoint_dir`` is kept (restarts resume from it); without
  one, ``drain`` makes a throwaway checkpoint and removes it however the
  drain ends.

``run_available_now`` drains into an in-memory sink and returns the sink
contents as a regular DataFrame; ``foreach_batch_to_parquet``,
``foreach_batch_capture`` and ``foreach_batch_upsert`` are the A10 sinks
(the reference's REST-bulk-upload analogue — each batch is a bounded
DataFrame you may send anywhere).
"""

from __future__ import annotations

import itertools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

_counter = itertools.count()

# Checkpoint dirs hold many small fsync'd files; a RAM-backed tmpfs cuts
# ~0.3 s of fixed cost per streaming query locally. Throwaway availableNow
# checkpoints only — durable production checkpoints belong on real storage
# (HDFS/object store) for failure recovery.
_CKPT_BASE = "/dev/shm" if os.path.isdir("/dev/shm") else None

DRAIN_TIMEOUT_S = 300


def drain(writer: DataStreamWriter, what: str, checkpoint_dir: str | None = None) -> None:
    """Run ``writer`` with ``trigger(availableNow=True)`` to completion.
    ``what`` names the drain in the timeout error and the throwaway
    checkpoint's name."""
    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix=f"oeem_ckpt_{what}_", dir=_CKPT_BASE)
    try:
        q = writer.option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        try:
            if not q.awaitTermination(DRAIN_TIMEOUT_S):
                raise TimeoutError(f"{what} drain exceeded {DRAIN_TIMEOUT_S}s")
        finally:
            q.stop()  # a no-op once the query has ended
    finally:
        if checkpoint_dir is None:
            shutil.rmtree(ckpt, ignore_errors=True)


def run_available_now(sdf: DataFrame, output_mode: str) -> DataFrame:
    """Drain a streaming DataFrame into a memory sink; return its rows.
    The sink's temp view is dropped before returning: the frame keeps the
    rows alive only as long as the caller holds it."""
    name = f"oeem_stream_{next(_counter)}"
    drain(sdf.writeStream.format("memory").queryName(name).outputMode(output_mode), name)
    spark = sdf.sparkSession
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def foreach_batch_to_parquet(sdf: DataFrame, path: str) -> None:
    """A10: per-batch arbitrary sink (parquet-append flavor)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(path)

    drain(sdf.writeStream.foreachBatch(sink), "foreach_batch_to_parquet")


def foreach_batch_capture(sdf: DataFrame, path: str) -> None:
    """A10 sink variant that RECORDS THE BATCH ORDINAL: each micro-batch
    appends to parquet with a ``_batch_id`` column. Update-mode stateful
    operators re-emit a key's row every batch it changes in; the sink's
    consumer must keep the LAST batch's row per key — the memory sink
    loses that ordering, so tie-breaking on payload columns silently
    depends on single-batch drains. With the ordinal
    recorded, "final emission per key" is ``max(_batch_id)`` regardless
    of how many micro-batches the source drains in."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        batch_df.withColumn("_batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(path)

    drain(sdf.writeStream.foreachBatch(sink).outputMode("update"), "foreach_batch_capture")


def assert_batch_equivalent(
    spark: SparkSession,
    transform,
    batch_df: DataFrame,
    stream_df: DataFrame,
    output_mode: str = "complete",
) -> None:
    """§5.2(3): the same pure transformation over read vs readStream must
    produce identical multisets of rows."""
    got = sorted(map(tuple, run_available_now(transform(stream_df), output_mode).collect()))
    want = sorted(map(tuple, transform(batch_df).collect()))
    assert got == want, (
        f"stream/batch divergence: {len(got)} vs {len(want)} rows; "
        f"first diff: {next(((a, b) for a, b in zip(got, want) if a != b), None)}"
    )


def foreach_batch_upsert(
    sdf: DataFrame,
    target_path: str,
    keys: list[str],
    order_cols: list[str],
    output_mode: str | None = None,
) -> None:
    """Streaming upsert sink: each micro-batch merges into a parquet
    target with the newest record per key (by ``order_cols``) winning —
    the reference's incremental bulk-upload loop (fetch batch → upsert
    into datastore) as a foreachBatch sink.

    The merge is COMMUTATIVE: target ∪ delta → keep-latest by
    ``order_cols``, so the result is independent of micro-batch arrival
    order and idempotent under batch replay — exactly the property an
    at-least-once foreachBatch sink needs (a last-batch-wins merge would
    silently depend on file-listing order).

    The target is swapped atomically per batch (write to `<path>.tmp`,
    os.replace) so readers never see a half-written snapshot. That swap is
    single-writer; production multi-writer targets belong in a
    transactional table format — the merge logic is identical there, only
    the commit protocol changes.
    """
    from oeem_etl_spark.operators.relational import dedupe_keep_latest_by

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        delta = dedupe_keep_latest_by(batch_df, keys, order_cols)
        if os.path.isdir(target_path):
            target = spark.read.parquet(target_path)
            merged = dedupe_keep_latest_by(
                target.unionByName(delta), keys, order_cols
            )
        else:
            merged = delta
        tmp = f"{target_path}.tmp"
        merged.write.mode("overwrite").parquet(tmp)
        old = f"{target_path}.old"
        shutil.rmtree(old, ignore_errors=True)
        if os.path.isdir(target_path):
            os.replace(target_path, old)
        os.replace(tmp, target_path)
        shutil.rmtree(old, ignore_errors=True)

    writer = sdf.writeStream.foreachBatch(sink)
    if output_mode is not None:
        # aggregations without watermark need "update" — the merge
        # absorbs re-emissions of a growing group, so update-mode
        # batches converge on the same target as a final snapshot
        writer = writer.outputMode(output_mode)
    drain(writer, "foreach_batch_upsert")
