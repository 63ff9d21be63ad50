"""Luigi-style task-DAG orchestration over Spark jobs (SURVEY.md §3.1).

The reference organizes its work as Luigi tasks — fetch → parse →
transform → upload — whose scheduling contract is *target existence*: a
task runs only if its output target does not already exist, and only after
its dependencies' targets do. This module re-expresses that contract for
Spark pipelines:

- a :class:`Task` declares an output path, dependencies, and a build
  function ``fn(spark, inputs) -> DataFrame`` where ``inputs`` maps each
  dependency name to its (already materialized) DataFrame;
- :func:`run_pipeline` topologically orders tasks, skips any whose parquet
  target already exists (incremental re-runs — the Luigi idiom), and
  executes the rest, writing each result to its target.

Unlike Luigi there is no worker pool to manage: each "task" is a Spark
action, and Spark itself fans the work across the cluster; the DAG here
only sequences materialization boundaries. Targets are parquet
directories on the local filesystem: Spark would write them to any
filesystem Hadoop supports, but ``target_exists`` checks the ``_SUCCESS``
marker with ``os.path.exists`` (on GCS/S3 substitute the store's own
existence check there).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


@dataclass(frozen=True)
class Task:
    name: str
    output: str  # parquet directory target
    fn: Callable[..., DataFrame]  # fn(spark, inputs: dict[str, DataFrame])
    deps: Sequence[str] = field(default_factory=tuple)
    partition_by: Sequence[str] = field(default_factory=tuple)


def target_exists(path: str) -> bool:
    """Luigi LocalTarget.exists() analogue; parquet-dir success marker."""
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def run_pipeline(
    spark: SparkSession,
    tasks: Sequence[Task],
    force: bool = False,
) -> dict[str, str]:
    """Execute a task DAG with target-existence skipping.

    Returns {task name: "built" | "skipped"}. Raises on cycles or unknown
    dependencies. ``force=True`` rebuilds everything regardless of targets.

    A dependency built earlier in the same call is read back with the
    schema of the frame just written, so Spark starts no job to infer it
    from a footer (a parquet read makes every column nullable either way).
    A skipped dependency, whose target predates the call, and a
    ``partition_by`` dependency, whose partition column types come from
    the directory names, are read with an inferred schema.
    """
    by_name = {t.name: t for t in tasks}
    for t in tasks:
        for d in t.deps:
            if d not in by_name:
                raise ValueError(f"task {t.name!r} depends on unknown task {d!r}")

    # topological order (deterministic: stable on input order)
    order: list[Task] = []
    state: dict[str, int] = {}  # 0=unvisited 1=visiting 2=done

    def visit(t: Task) -> None:
        if state.get(t.name) == 2:
            return
        if state.get(t.name) == 1:
            raise ValueError(f"dependency cycle through task {t.name!r}")
        state[t.name] = 1
        for d in t.deps:
            visit(by_name[d])
        state[t.name] = 2
        order.append(t)

    for t in tasks:
        visit(t)

    status: dict[str, str] = {}
    written: dict[str, StructType] = {}  # built this call, not partitioned
    for t in order:
        if not force and target_exists(t.output):
            status[t.name] = "skipped"
            continue
        inputs = {}
        for d in t.deps:
            reader = spark.read
            if d in written:
                reader = reader.schema(written[d])
            inputs[d] = reader.parquet(by_name[d].output)
        df = t.fn(spark, inputs)
        writer = df.write.mode("overwrite")
        if t.partition_by:
            writer = writer.partitionBy(*t.partition_by)
        writer.parquet(t.output)
        if not t.partition_by:
            written[t.name] = df.schema
        status[t.name] = "built"
    return status
