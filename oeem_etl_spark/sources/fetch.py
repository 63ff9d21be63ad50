"""Fetch tier: the reference's network-acquisition step re-expressed for
Spark (SURVEY.md §3.1 fetch → parse → transform → upload).

The reference toolkit fetches utility/ESPI data over HTTP with OAuth,
rate limits, and retries, then lands raw payloads for the parse step.
This sandbox has no network, so the transport is pluggable:

- :class:`Fetcher` — the transport protocol: ``fetch(task_id) -> bytes``;
  implement it over HTTP/OAuth in production.
- :class:`LocalDirFetcher` — filesystem-backed mock transport (the
  "remote" is a directory); used by tests and the sandbox.
- :class:`FlakyFetcher` — deterministic transient-failure injector
  (fails the first N attempts per task, state on disk so it works from
  executor processes) for retry-path tests.
- :func:`fetch_with_retry` — bounded exponential-backoff retry around any
  Fetcher; raises :class:`FetchError` after ``max_attempts``.
- :func:`fetch_to_landing` — the distributed driver: a task frame
  (task_id, uri) is fanned out via mapInPandas, each executor fetches its
  batch and writes one landing file per task, atomically (tmp + rename).
  Idempotent: tasks whose landing file already exists are skipped (the
  Luigi target-existence contract), so a failed run re-runs safely.
- :func:`check_fetched` — collects a status frame and raises unless every
  task landed.

Scale posture: the task frame is tiny (one row per remote resource); the
payload bytes never pass through the driver — each executor writes its own
landing files. Repartition the task frame to bound per-executor
concurrency against a rate-limited API.
"""

from __future__ import annotations

import os
import tempfile
import time
from collections.abc import Callable, Iterator
from typing import Protocol

import pandas as pd
from pyspark.sql import DataFrame


class FetchError(RuntimeError):
    """Raised when a fetch task exhausts its retry budget."""


class TransientFetchError(RuntimeError):
    """A retryable transport failure (HTTP 429/5xx analogue)."""


class Fetcher(Protocol):
    def fetch(self, task_id: str) -> bytes: ...


class LocalDirFetcher:
    """Mock transport: ``task_id`` is a filename under ``root``."""

    def __init__(self, root: str):
        self.root = root

    def fetch(self, task_id: str) -> bytes:
        path = os.path.join(self.root, task_id)
        if not os.path.exists(path):
            raise FetchError(f"no such remote resource: {task_id}")
        with open(path, "rb") as f:
            return f.read()


class FlakyFetcher:
    """Deterministic transient-failure injector around another fetcher.

    Fails each task's first ``fail_times`` attempts with
    :class:`TransientFetchError`. Attempt counts live in ``state_dir``
    (one file per task) so the behavior is consistent even when attempts
    happen in different executor processes.
    """

    def __init__(self, inner: Fetcher, fail_times: int, state_dir: str):
        self.inner = inner
        self.fail_times = fail_times
        self.state_dir = state_dir

    def attempts(self, task_id: str) -> int:
        try:
            with open(os.path.join(self.state_dir, task_id + ".attempts")) as f:
                return int(f.read() or 0)
        except FileNotFoundError:
            return 0

    def fetch(self, task_id: str) -> bytes:
        n = self.attempts(task_id) + 1
        with open(os.path.join(self.state_dir, task_id + ".attempts"), "w") as f:
            f.write(str(n))
        if n <= self.fail_times:
            raise TransientFetchError(f"injected transient failure #{n} for {task_id}")
        return self.inner.fetch(task_id)


def local_flaky_fetcher(remote: str, fail_times: int, state_dir: str) -> "FlakyFetcher":
    """Picklable factory target for executor-side construction: wrap a
    :class:`LocalDirFetcher` in a :class:`FlakyFetcher`. Use with
    ``functools.partial`` as the ``fetcher_factory`` of
    :func:`fetch_to_landing` — partials over this module-level function
    pickle by reference, so they import cleanly on executors (a factory
    defined in a test module would not)."""
    return FlakyFetcher(LocalDirFetcher(remote), fail_times, state_dir)


def fetch_with_retry(
    fetcher: Fetcher,
    task_id: str,
    max_attempts: int = 4,
    backoff_s: float = 0.05,
    sleep: Callable[[float], None] = time.sleep,
) -> bytes:
    """Bounded exponential backoff around ``fetcher.fetch``.

    Retries :class:`TransientFetchError` only — a 404-style
    :class:`FetchError` is permanent and re-raised immediately."""
    for attempt in range(1, max_attempts + 1):
        try:
            return fetcher.fetch(task_id)
        except TransientFetchError:
            if attempt == max_attempts:
                raise FetchError(
                    f"{task_id}: exhausted {max_attempts} attempts"
                ) from None
            sleep(backoff_s * (2 ** (attempt - 1)))
    raise AssertionError("unreachable")


def fetch_to_landing(
    tasks: DataFrame,
    fetcher_factory: Callable[[], Fetcher],
    landing_dir: str,
    max_attempts: int = 4,
    backoff_s: float = 0.05,
) -> DataFrame:
    """Distributed fetch: one landing file per task, executor-side.

    ``tasks`` has columns (task_id string, uri string); ``uri`` is passed
    to the fetcher (for :class:`LocalDirFetcher` it's the remote filename).
    Returns a status frame (task_id, status, n_bytes) where status is
    ``fetched`` or ``skipped`` (landing target already exists — the
    idempotent re-run path). Writes are atomic (tmp + rename) so a crash
    mid-fetch never leaves a partial landing file to be skipped later.

    ``fetcher_factory`` must be picklable (a module-level function or
    functools.partial over picklable args) — it is evaluated once per
    executor batch, never shipped as a live connection object.
    """
    os.makedirs(landing_dir, exist_ok=True)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fetcher = fetcher_factory()
        for pdf in batches:
            rows = []
            for task_id, uri in zip(pdf["task_id"], pdf["uri"]):
                target = os.path.join(landing_dir, task_id)
                if os.path.exists(target):
                    rows.append((task_id, "skipped", os.path.getsize(target)))
                    continue
                payload = fetch_with_retry(
                    fetcher, uri, max_attempts=max_attempts, backoff_s=backoff_s
                )
                fd, tmp = tempfile.mkstemp(dir=landing_dir, prefix="." + task_id)
                with os.fdopen(fd, "wb") as f:
                    f.write(payload)
                os.replace(tmp, target)
                rows.append((task_id, "fetched", len(payload)))
            yield pd.DataFrame(rows, columns=["task_id", "status", "n_bytes"])

    return tasks.mapInPandas(run, "task_id string, status string, n_bytes long")


def check_fetched(statuses: DataFrame) -> None:
    """Run a :func:`fetch_to_landing` status frame and raise
    ``RuntimeError`` naming every task whose status is neither ``fetched``
    nor ``skipped``: a task that did not land would otherwise leave the
    landing directory, and every read of it, short."""
    failed = sorted(
        r["task_id"] for r in statuses.collect() if r["status"] not in ("fetched", "skipped")
    )
    if failed:
        raise RuntimeError(f"fetch did not land tasks {failed}")
