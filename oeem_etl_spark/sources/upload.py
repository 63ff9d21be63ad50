"""Upload tier: REST bulk-upsert client semantics against a pluggable
datastore (SURVEY.md §3.1's upload step; completes fetch → parse →
transform → upload).

The reference uploads transformed records to a datastore REST API in
fixed-size batches with auth, retry, and at-least-once delivery. The
Spark-native shape is a per-partition chunked sink usable both from batch
frames (:func:`bulk_upload`) and from Structured Streaming via
foreachBatch (:func:`upload_foreach_batch`), with:

- **batching** — records are sent in chunks of ``batch_size`` (the REST
  page size);
- **retry** — bounded exponential backoff per chunk on transient errors;
- **idempotency keys** — each chunk carries a deterministic key
  ``{epoch}-{partition}-{chunk}``; the server (mock:
  :class:`FilesystemDatastore`) drops re-deliveries of a key it has seen,
  so Spark task retries / micro-batch replays do not duplicate records.
  This is exactly the contract a production bulk API needs for
  at-least-once senders to achieve effectively-once state.

Scale posture: the driver never sees record bytes — each executor
partition uploads its own chunks; per-executor concurrency against a
rate-limited API is bounded by the task frame's partitioning.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from collections.abc import Callable
from typing import Protocol

from pyspark import TaskContext
from pyspark.sql import DataFrame

from oeem_etl_spark.streaming.harness import drain


class TransientUploadError(RuntimeError):
    """Retryable server failure (HTTP 429/5xx analogue)."""


class UploadError(RuntimeError):
    """Raised when a chunk exhausts its retry budget."""


class BulkUpsertClient(Protocol):
    def upsert(self, records: list[dict], idempotency_key: str) -> None: ...


class FilesystemDatastore:
    """Mock bulk-upsert API: one JSON file per idempotency key.

    Re-delivery of a seen key is a no-op (idempotent); the file write is
    atomic (tmp + rename) so concurrent executors and crash-retry never
    interleave partial payloads. ``state()`` merges all batches
    last-writer-wins by (key_col, seq_col) — the reference datastore's
    upsert semantics.
    """

    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "batches"), exist_ok=True)

    def upsert(self, records: list[dict], idempotency_key: str) -> None:
        target = os.path.join(self.root, "batches", idempotency_key + ".json")
        if os.path.exists(target):  # seen this key: drop the re-delivery
            return
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(target), prefix=".tmp")
        with os.fdopen(fd, "w") as f:
            # non-JSON scalars (timestamps, dates, Decimal) go over the
            # wire as ISO/str — what a real REST payload would carry
            json.dump(records, f, sort_keys=True, default=str)
        os.replace(tmp, target)

    def batches(self) -> dict[str, list[dict]]:
        out = {}
        bdir = os.path.join(self.root, "batches")
        for name in sorted(os.listdir(bdir)):
            if name.endswith(".json"):
                with open(os.path.join(bdir, name)) as f:
                    out[name[:-5]] = json.load(f)
        return out

    def state(self, key_col: str, seq_col: str) -> dict:
        """Materialized datastore state: last-writer-wins by seq_col."""
        best: dict = {}
        for records in self.batches().values():
            for r in records:
                k = r[key_col]
                if k not in best or (r[seq_col], ) >= (best[k][seq_col], ):
                    best[k] = r
        return best


class FlakyDatastore:
    """Transient-failure injector: each idempotency key's first
    ``fail_times`` upsert attempts raise, with attempt counts on disk so
    executor-side retries observe them."""

    def __init__(self, inner: BulkUpsertClient, fail_times: int, state_dir: str):
        self.inner = inner
        self.fail_times = fail_times
        self.state_dir = state_dir

    def attempts(self, key: str) -> int:
        try:
            with open(os.path.join(self.state_dir, key + ".attempts")) as f:
                return int(f.read() or 0)
        except FileNotFoundError:
            return 0

    def upsert(self, records: list[dict], idempotency_key: str) -> None:
        n = self.attempts(idempotency_key) + 1
        with open(
            os.path.join(self.state_dir, idempotency_key + ".attempts"), "w"
        ) as f:
            f.write(str(n))
        if n <= self.fail_times:
            raise TransientUploadError(
                f"injected transient failure #{n} for {idempotency_key}"
            )
        self.inner.upsert(records, idempotency_key)


def filesystem_datastore(root: str) -> "FilesystemDatastore":
    """Picklable factory target (see :func:`local_flaky_datastore`)."""
    return FilesystemDatastore(root)


def local_flaky_datastore(root: str, fail_times: int, state_dir: str) -> "FlakyDatastore":
    """Picklable factory target for executor-side construction: a
    :class:`FlakyDatastore` over a :class:`FilesystemDatastore`. Use with
    ``functools.partial`` as the ``client_factory`` of :func:`bulk_upload`
    — module-level functions pickle by reference and import on executors."""
    return FlakyDatastore(FilesystemDatastore(root), fail_times, state_dir)


def _upload_partition(
    rows,
    client_factory: Callable[[], BulkUpsertClient],
    epoch_id: int,
    batch_size: int,
    max_attempts: int,
    backoff_s: float,
    sleep: Callable[[float], None] = time.sleep,
) -> None:
    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else 0
    client = client_factory()
    chunk: list[dict] = []
    chunk_idx = 0

    def send(records: list[dict], idx: int) -> None:
        key = f"{epoch_id}-{pid}-{idx}"
        for attempt in range(1, max_attempts + 1):
            try:
                client.upsert(records, key)
                return
            except TransientUploadError:
                if attempt == max_attempts:
                    raise UploadError(
                        f"chunk {key}: exhausted {max_attempts} attempts"
                    ) from None
                sleep(backoff_s * (2 ** (attempt - 1)))

    for row in rows:
        chunk.append(row.asDict(recursive=True))
        if len(chunk) >= batch_size:
            send(chunk, chunk_idx)
            chunk, chunk_idx = [], chunk_idx + 1
    if chunk:
        send(chunk, chunk_idx)


def bulk_upload(
    df: DataFrame,
    client_factory: Callable[[], BulkUpsertClient],
    epoch_id: int = 0,
    batch_size: int = 100,
    max_attempts: int = 4,
    backoff_s: float = 0.05,
) -> None:
    """Upload a batch DataFrame: per-partition chunks of ``batch_size``,
    retry with backoff, idempotency key {epoch}-{partition}-{chunk}.

    At-least-once delivery with an idempotent server is effectively-once:
    a task retry re-sends the same chunks under the same keys (Spark task
    retries re-run the same partition of the same deterministic plan), and
    the server drops the duplicates.
    """
    df.foreachPartition(
        lambda rows: _upload_partition(
            rows, client_factory, epoch_id, batch_size, max_attempts, backoff_s
        )
    )


def upload_foreach_batch(
    sdf: DataFrame,
    client_factory: Callable[[], BulkUpsertClient],
    checkpoint_dir: str,
    batch_size: int = 100,
    max_attempts: int = 4,
) -> None:
    """Streaming upload sink: drain ``sdf`` with availableNow, uploading
    every micro-batch via :func:`bulk_upload` keyed by its epoch — the
    replay-safe streaming analogue of the reference's upload step (a
    restarted query re-delivers an epoch under the same idempotency keys).
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        bulk_upload(
            batch_df,
            client_factory,
            epoch_id=batch_id,
            batch_size=batch_size,
            max_attempts=max_attempts,
        )

    drain(sdf.writeStream.foreachBatch(sink), "upload_foreach_batch", checkpoint_dir)
