"""Streaming execution harness: drain-to-table and batch-equivalence.

``run_available_now`` is the bridge between the streaming operators (pure
transformations in streaming/ops.py) and the driver's batch-shaped
contract: it runs a streaming DataFrame with ``trigger(availableNow=True)``
into an in-memory sink and returns the sink contents as a regular
DataFrame. availableNow processes everything currently in the source
(possibly as several micro-batches, honoring maxFilesPerTrigger) and then
stops — Spark's sanctioned pattern for incremental batch jobs.

``foreach_batch_to_parquet`` is the A10 sink: arbitrary per-micro-batch
logic (the reference's REST-bulk-upload analogue — each batch is a bounded
DataFrame you may send anywhere); here each batch appends to parquet.
"""

from __future__ import annotations

import itertools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

_counter = itertools.count()

# Checkpoint dirs hold many small fsync'd files; a RAM-backed tmpfs cuts
# ~0.3 s of fixed cost per streaming query locally. Throwaway availableNow
# checkpoints only — durable production checkpoints belong on real storage
# (HDFS/object store) for failure recovery.
_CKPT_BASE = "/dev/shm" if os.path.isdir("/dev/shm") else None


def _mkdtemp_ckpt(prefix: str) -> str:
    return tempfile.mkdtemp(prefix=prefix, dir=_CKPT_BASE)


def run_available_now(
    sdf: DataFrame,
    output_mode: str,
    timeout_s: int = 300,
    name: str | None = None,
) -> DataFrame:
    """Drain a streaming DataFrame into a memory sink; return its table."""
    name = name or f"oeem_stream_{next(_counter)}"
    ckpt = _mkdtemp_ckpt(f"oeem_ckpt_{name}_")
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(f"streaming query {name} exceeded {timeout_s}s")
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    spark = sdf.sparkSession
    return spark.table(name)


def foreach_batch_to_parquet(sdf: DataFrame, path: str, timeout_s: int = 300) -> None:
    """A10: per-batch arbitrary sink (parquet-append flavor)."""
    ckpt = _mkdtemp_ckpt("oeem_ckpt_feb_")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(path)

    try:
        q = (
            sdf.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(f"foreachBatch sink exceeded {timeout_s}s")
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def foreach_batch_capture(sdf: DataFrame, path: str, timeout_s: int = 300) -> None:
    """A10 sink variant that RECORDS THE BATCH ORDINAL: each micro-batch
    appends to parquet with a ``_batch_id`` column. Update-mode stateful
    operators re-emit a key's row every batch it changes in; the sink's
    consumer must keep the LAST batch's row per key — the memory sink
    loses that ordering, so tie-breaking on payload columns silently
    depends on single-batch drains. With the ordinal
    recorded, "final emission per key" is ``max(_batch_id)`` regardless
    of how many micro-batches the source drains in."""
    ckpt = _mkdtemp_ckpt("oeem_ckpt_cap_")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        batch_df.withColumn("_batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(path)

    try:
        q = (
            sdf.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(f"foreachBatch capture sink exceeded {timeout_s}s")
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


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
    timeout_s: int = 300,
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

    ckpt = _mkdtemp_ckpt("oeem_ckpt_upsert_")

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

    try:
        writer = sdf.writeStream.foreachBatch(sink)
        if output_mode is not None:
            # aggregations without watermark need "update" — the merge
            # absorbs re-emissions of a growing group, so update-mode
            # batches converge on the same target as a final snapshot
            writer = writer.outputMode(output_mode)
        q = (
            writer.option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(f"upsert sink exceeded {timeout_s}s")
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
