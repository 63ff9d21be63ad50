"""The benchmark's workloads: what one pass runs and how it is checked.

Every op is what a user of ``oeem_etl_spark`` calls. A query op builds the
registered plan and materializes every output column through the ``noop``
sink; an ingest op fetches, parses, commits and uploads one batch. Ops run
one after another from one client (a closed loop). Checks run outside the
timed region.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import random
import shutil
import tempfile
import threading
import time
from dataclasses import dataclass

import duckdb

import datagen
import tracing

# The registered queries each workload runs, one op per query per pass.
METER_ETL = [
    "k1_standardize_schema",
    "k7_interval_align",
    "k23_calendarize",
    "k33_per_meter_ols",
    "c8_asof_join",
    "d12_dedup_keep_latest",
    "k6_merge_upsert",
    "d24b_weighted_median_bucketed",
    "q01_pricing_summary",
]
CORPUS_CURATION = [
    "l1_exact_dedup",
    "l3e_topk_arrow",
    "l6_tf_idf",
    "l50_neardup_canonical",
    "l64_bpe_train",
]

OP_TIMEOUT_S = 60


@dataclass
class OpResult:
    name: str
    latency_s: float
    ok: bool
    sample: bool = True  # counts toward the op latency percentiles
    error: str | None = None


@dataclass
class PassResult:
    ops: list[OpResult]
    wall_s: float
    check_s: float


def noop_write(df) -> None:
    """Materialize every column of ``df`` without storing it. Unlike
    ``count()``, this keeps every projected column in the plan."""
    df.write.format("noop").mode("overwrite").save()


def rows_digest(rows) -> str:
    """Order-insensitive digest of a result's rows."""
    return hashlib.sha256("\n".join(sorted(map(repr, rows))).encode()).hexdigest()


class Workload:
    def __init__(self, spark, tracer: tracing.Tracer, engine, work_dir: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.engine = engine  # EngineMeter in traced runs, else None
        self.work_dir = work_dir
        self.seed = seed
        self.python_cpu_mark = 0.0

    def timed(self, name: str, fn, sample: bool = True) -> OpResult:
        """Run one op under its own job group, cancelled after
        ``OP_TIMEOUT_S``; in traced passes, charge its Spark work."""
        sc = self.spark.sparkContext
        self.tracer.op_id = name
        sc.setJobGroup(name, name, interruptOnCancel=True)
        timer = threading.Timer(OP_TIMEOUT_S, sc.cancelJobGroup, [name])
        timer.start()
        error = None
        t = time.perf_counter()
        try:
            fn()
        except Exception as e:  # noqa: BLE001 - a failed op is counted, the run goes on
            error = f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            latency = time.perf_counter() - t
            timer.cancel()
        if self.tracer.enabled:
            for k, v in self.engine.delta().items():
                self.tracer.count("spark." + k, v)
            cpu = tracing.python_worker_cpu_s(os.getpid())
            self.tracer.count("functions.python_cpu_s", cpu - self.python_cpu_mark)
            self.python_cpu_mark = cpu
        elif self.engine is not None:
            self.engine.mark = self.engine.ids()
        return OpResult(name, latency, error is None, sample, error)

    def start_pass(self) -> None:
        if self.engine is not None:
            self.engine.mark = self.engine.ids()
            self.python_cpu_mark = tracing.python_worker_cpu_s(os.getpid())

    def end_pass(self) -> None:
        if self.tracer.enabled:
            self.tracer.count("spark.storage_mem_bytes", self.engine.storage_mem_bytes())


# ---------------------------------------------------------------------------
# Query workloads: meter_etl and corpus_curation
# ---------------------------------------------------------------------------


class QueryWorkload(Workload):
    def __init__(self, names: list[str], catalog_dir: str, oracle_path: str, **kw):
        super().__init__(**kw)
        from oeem_etl_spark.plans import registry

        self.catalog_dir = catalog_dir
        self.oracle_path = oracle_path
        self.queries = registry.all_queries()
        self.order = list(names)
        random.Random(self.seed).shuffle(self.order)
        self.oracle = None
        self.last_pass: list[tuple[OpResult, object]] = []
        self.input_bytes = _dir_bytes(catalog_dir)
        # where a query could leave files behind: its temp and warehouse dirs
        self.scratch_dirs = [tempfile.gettempdir(), os.environ.get("SPARK_GRAFT_WAREHOUSE", "")]
        self.stored_ratio = None

    def run_pass(self, check: bool) -> PassResult:
        """One pass over every query. With ``check``, each op is checked
        right after it ran, outside the pass's wall time; otherwise
        ``check_last_pass`` can check the pass later."""
        self.start_pass()
        ops, check_s = [], 0.0
        self.last_pass = []
        t = time.perf_counter()
        for name in self.order:
            out = {}
            res = self.timed(name, functools.partial(self.run_query, name, out))
            ops.append(res)
            self.last_pass.append((res, out.get("df")))
            if check:
                check_s += self.check_ops(self.last_pass[-1:])
        wall = time.perf_counter() - t - check_s
        self.stored_ratio = (self.input_bytes + _dir_bytes(*self.scratch_dirs)) / self.input_bytes
        self.end_pass()
        return PassResult(ops, wall, check_s)

    def check_last_pass(self) -> float:
        """Check every op of the latest pass; returns the seconds taken."""
        return self.check_ops(self.last_pass)

    def check_ops(self, ops: list[tuple[OpResult, object]]) -> float:
        t = time.perf_counter()
        for res, df in ops:
            if res.ok:
                res.error = self.check(res.name, df)
                res.ok = res.error is None
        return time.perf_counter() - t

    def run_query(self, name: str, out: dict) -> None:
        tr = self.tracer
        mark = self.engine.ids() if tr.enabled else None
        with tr.span("plans.build"):
            df = self.queries[name].fn(self.spark, self.catalog_dir)
        if tr.enabled:
            tr.count("plans.eager_jobs", self.engine.jobs_since(mark))
        out["df"] = df
        with tr.span("operators.action"):
            noop_write(df)

    def check(self, name: str, df) -> str | None:
        """Row count + column names + order-insensitive digest against the
        DuckDB oracle. Every query a workload runs has an oracle."""
        rows = [tuple(r) for r in df.collect()]
        sql = self.queries[name].sql
        if sql is None:
            return "query has no oracle SQL"
        want = self.oracle_result(name, sql)
        if df.columns != want["columns"]:
            return f"columns {df.columns} != oracle {want['columns']}"
        if len(rows) != want["rows"]:
            return f"{len(rows)} rows, oracle {want['rows']}"
        if rows_digest(rows) != want["digest"]:
            return "row digest differs from oracle"
        return None

    def oracle_result(self, name: str, sql: str) -> dict:
        """The oracle's columns, row count and digest for one query. The
        catalog never changes, so results are cached in ``oracle_path``,
        keyed by the SQL text; some oracles take seconds in DuckDB."""
        path = self.oracle_path
        if self.oracle is None:
            self.oracle = {}
            if os.path.exists(path):
                with open(path) as f:
                    self.oracle = json.load(f)
        key = hashlib.sha256(sql.encode()).hexdigest()
        hit = self.oracle.get(name)
        if hit is None or hit["sql"] != key:
            con = duckdb.connect()
            for f in sorted(os.listdir(self.catalog_dir)):
                table = os.path.join(self.catalog_dir, f)
                view = f.removesuffix(".parquet")
                con.execute(f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{table}')")
            res = con.sql(sql)
            cols = [d[0] for d in res.description]
            want = res.fetchall()
            con.close()
            hit = {"sql": key, "columns": cols, "rows": len(want), "digest": rows_digest(want)}
            self.oracle[name] = hit
            with open(path + ".tmp", "w") as f:
                json.dump(self.oracle, f)
            os.replace(path + ".tmp", path)
        return hit


# ---------------------------------------------------------------------------
# meter_ingest
# ---------------------------------------------------------------------------

KEYS = ["trace_id", "start"]
CANONICAL = {
    "trace_id": ("trace_id", "string"),
    "start": ("start", "timestamp"),
    "end": ("end", "timestamp"),
    "value": ("value", "double"),
    "unit": ("unit", None),
    "estimated": ("estimated", "boolean"),
    "version": ("version", "int"),
}
COMPACT_EVERY = 4


def _records(df):
    """Upload payload: one record per reading, keyed by trace and start."""
    from pyspark.sql import functions as F

    start_s = F.unix_seconds("start")
    return df.select(
        F.concat_ws("|", "trace_id", start_s.cast("string")).alias("key"),
        "trace_id",
        start_s.alias("start_s"),
        "value",
        "estimated",
        "version",
    )


def _usage(root, spark, inputs):
    from oeem_etl_spark.sources.snapshots import SnapshotTable

    return SnapshotTable(root).read(spark).select("trace_id", "start", "value")


def _daily(spark, inputs):
    from pyspark.sql import functions as F

    return (
        inputs["usage"]
        .groupBy("trace_id", F.to_date("start").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 1e6).cast("long")).alias("kwh_micros"))
    )


def _monthly_bill(spark, inputs):
    from pyspark.sql import functions as F

    return (
        inputs["daily"]
        .groupBy("trace_id", F.date_format("day", "yyyy-MM").alias("month"))
        .agg(F.sum("kwh_micros").alias("kwh_micros"))
        .withColumn("bill_micros", F.expr("kwh_micros * 21 div 100 + 9500000"))
    )


def _dir_bytes(*roots: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for root in roots
        for d, _dirs, files in os.walk(root)
        for f in files
    )


def _data_files(root: str) -> dict[str, int]:
    return {
        os.path.join(d, f): os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    }


def _attempts(state_dir: str) -> dict[str, int]:
    """Attempt counts a flaky transport keeps in ``state_dir``, one file
    per task or chunk."""
    out = {}
    for f in os.listdir(state_dir):
        with open(os.path.join(state_dir, f)) as fh:
            out[f.removesuffix(".attempts")] = int(fh.read() or 0)
    return out


def fetch_batch(spark, files: list[str], flaky: list[str], remote: str, landing: str, state_dir: str) -> int:
    """Fetch ``files`` from ``remote`` into ``landing`` through
    ``local_flaky_fetcher``, where only the ``flaky`` files fail their
    first attempt. Returns the number of retries the fetches made."""
    from oeem_etl_spark.sources import fetch

    os.makedirs(state_dir)
    for f in files:  # one recorded attempt puts a file past fail_times=1
        if f not in flaky:
            with open(os.path.join(state_dir, f + ".attempts"), "w") as fh:
                fh.write("1")
    tasks = spark.createDataFrame([(f, f) for f in files], "task_id string, uri string")
    factory = functools.partial(fetch.local_flaky_fetcher, remote=remote, fail_times=1, state_dir=state_dir)
    statuses = fetch.fetch_to_landing(tasks, factory, landing).collect()
    if {r["status"] for r in statuses} != {"fetched"}:
        raise RuntimeError(f"unexpected fetch statuses {statuses}")
    attempts = _attempts(state_dir)
    return sum(attempts[f] - (f not in flaky) - 1 for f in files)


class IngestWorkload(Workload):
    """A seeded stream of meter batches, one op per batch, then a
    streaming drain, a monthly-billing pipeline run twice, and a vacuum.
    Each pass starts from an empty table."""

    def __init__(self, remote_dir: str, **kw):
        super().__init__(**kw)
        self.remote_dir = remote_dir
        self.batches = datagen.ingest_batches(self.seed)
        self.input_bytes = _dir_bytes(remote_dir)
        rng = random.Random(self.seed)
        self.prune = [sorted(f"m{rng.randrange(40):03d}" for _ in range(2)) for _ in self.batches]
        self.expected = self._expected()
        self.n_pass = 0
        self.stored_ratio = None

    # -- one pass -------------------------------------------------------------

    def run_pass(self, check: bool) -> PassResult:
        from oeem_etl_spark.sources.snapshots import SnapshotTable

        self.start_pass()
        d = os.path.join(self.work_dir, f"pass{self.n_pass}")
        self.n_pass += 1
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(os.path.join(d, "ustate"))
        t = time.perf_counter()
        table = SnapshotTable(os.path.join(d, "table"))
        ops = [
            self.timed(f"batch{b}", functools.partial(self.ingest_batch, d, table, b))
            for b in range(len(self.batches))
        ]
        ops.append(self.timed("stream_drain", functools.partial(self.drain, d), sample=False))
        ops.append(self.timed("pipeline", functools.partial(self.pipeline, d), sample=False))
        ops.append(self.timed("vacuum", functools.partial(self.vacuum, table), sample=False))
        wall = time.perf_counter() - t
        self.stored_ratio = _dir_bytes(table.root, os.path.join(d, "ds"), os.path.join(d, "ds_stream")) / self.input_bytes
        self.end_pass()
        check_s = 0.0
        if check:
            c = time.perf_counter()
            bad = self.check(d, table)
            for op in ops:
                if op.ok and op.name in bad:
                    op.ok, op.error = False, bad[op.name]
            check_s = time.perf_counter() - c
        shutil.rmtree(d, ignore_errors=True)
        return PassResult(ops, wall, check_s)

    def ingest_batch(self, d: str, table, b: int) -> None:
        from pyspark.sql import functions as F

        from oeem_etl_spark.operators import relational, timeseries
        from oeem_etl_spark.sources import espi, readers, upload

        spark, tr, batch = self.spark, self.tracer, self.batches[b]
        landing = os.path.join(d, "landing", f"b{b}")
        with tr.span("sources.fetch"):
            retries = fetch_batch(
                spark, batch["files"], batch["flaky"], os.path.join(self.remote_dir, f"b{b}"),
                landing, os.path.join(d, "fstate", f"b{b}"),
            )
        tr.count("sources.fetch_retries", retries)
        with tr.span("sources.parse"):
            if batch["fmt"] == "xml":
                raw = espi.read_espi_dir(spark, landing).withColumn("version", F.lit(b * 10))
            else:
                raw = readers.scan_csv(spark, landing, datagen.CSV_SCHEMA)
            std = timeseries.standardize_schema(raw, CANONICAL)
            delta = relational.dedupe_keep_latest_by(std, KEYS, ["version"]).cache()
            noop_write(delta)
        try:
            with tr.span("sources.commit"):
                before = _data_files(table.data_dir)
                base = table.latest_version()
                if base is None:
                    table.commit(delta)
                else:
                    merged = relational.merge_upsert(
                        table.read(spark, version=base), delta, KEYS, broadcast_delta=True
                    )
                    table.commit(merged, mode="overwrite", expected_version=base)
                self._count_written(table, before, "sources.commits")
            with tr.span("sources.upload"):
                client = functools.partial(
                    upload.local_flaky_datastore,
                    root=os.path.join(d, "ds"),
                    fail_times=batch["upload_fails"],
                    state_dir=os.path.join(d, "ustate"),
                )
                upload.bulk_upload(_records(delta), client, epoch_id=b, batch_size=100)
        finally:
            delta.unpersist()
        if (b + 1) % COMPACT_EVERY == 0:
            with tr.span("sources.compact"):
                before = _data_files(table.data_dir)
                table.compact(spark)
                self._count_written(table, before, "sources.compactions")
        with tr.span("sources.read"):
            lo, hi = self.prune[b]
            df = table.read(spark, prune=("trace_id", lo, hi)).where(F.col("trace_id").between(lo, hi))
            noop_write(df)
        if tr.enabled:
            tr.count("sources.files_listed", table.file_count())
            tr.count("sources.files_read", len(df.inputFiles()))

    def _count_written(self, table, before: dict, counter: str) -> None:
        if self.tracer.enabled:
            new = {p: n for p, n in _data_files(table.data_dir).items() if p not in before}
            self.tracer.count(counter)
            self.tracer.count("sources.files_written", len(new))
            self.tracer.count("sources.bytes_written", sum(new.values()))

    def drain(self, d: str) -> None:
        from oeem_etl_spark.operators import timeseries
        from oeem_etl_spark.sources import upload

        sdf = (
            self.spark.readStream.schema(datagen.CSV_SCHEMA)
            .option("header", "true")
            .option("maxFilesPerTrigger", 2)
            .csv(os.path.join(d, "landing", "*", "*.csv"))
        )
        ckpt = os.path.join(d, "ckpt")
        with self.tracer.span("streaming.drain"):
            upload.upload_foreach_batch(
                _records(timeseries.standardize_schema(sdf, CANONICAL)),
                functools.partial(upload.filesystem_datastore, root=os.path.join(d, "ds_stream")),
                checkpoint_dir=ckpt,
                batch_size=100,
            )
        if self.tracer.enabled:
            self.tracer.count("streaming.batches", len(os.listdir(os.path.join(ckpt, "commits"))))

    def pipeline(self, d: str) -> None:
        from oeem_etl_spark import pipelines

        out = os.path.join(d, "pipeline")
        tasks = [
            pipelines.Task("usage", os.path.join(out, "usage"), functools.partial(_usage, os.path.join(d, "table"))),
            pipelines.Task("daily", os.path.join(out, "daily"), _daily, deps=("usage",)),
            pipelines.Task("monthly_bill", os.path.join(out, "bill"), _monthly_bill, deps=("daily",)),
        ]
        with self.tracer.span("pipelines.run"):
            first = pipelines.run_pipeline(self.spark, tasks)
            second = pipelines.run_pipeline(self.spark, tasks)
        if set(first.values()) != {"built"} or set(second.values()) != {"skipped"}:
            raise RuntimeError(f"pipeline statuses {first} then {second}")
        self.tracer.count("pipelines.tasks", len(first) + len(second))
        self.tracer.count("pipelines.skipped", sum(s == "skipped" for s in second.values()))

    def vacuum(self, table) -> None:
        with self.tracer.span("sources.vacuum"):
            table.vacuum(retain_last=1)

    def end_pass(self) -> None:
        super().end_pass()
        if self.tracer.enabled:
            d = os.path.join(self.work_dir, f"pass{self.n_pass - 1}")
            # no chunk is pre-seeded: every attempt after a chunk's first is a retry
            uploads = _attempts(os.path.join(d, "ustate")).values()
            self.tracer.count("sources.upload_retries", sum(n - 1 for n in uploads))

    # -- correctness ----------------------------------------------------------

    def _expected(self) -> dict:
        """Recompute the final table, both datastores and the monthly bill
        from the generated batches in DuckDB."""
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE recs(trace_id VARCHAR, start_s BIGINT, wh BIGINT, "
            "estimated BOOLEAN, version INTEGER, fmt VARCHAR)"
        )
        con.executemany(
            "INSERT INTO recs VALUES (?, ?, ?, ?, ?, ?)",
            [(*r, b["fmt"]) for b in self.batches for r in b["records"]],
        )
        latest = """
            SELECT trace_id, start_s,
                   round(CASE fmt WHEN 'xml' THEN wh * 0.001 ELSE wh / 1000.0 END, 6) AS value,
                   estimated, version
            FROM recs WHERE {where}
            QUALIFY row_number() OVER (PARTITION BY trace_id, start_s ORDER BY version DESC) = 1
        """
        con.execute("CREATE TABLE final AS " + latest.format(where="true"))
        stream = latest.format(where="fmt = 'csv'")
        bill = con.sql(
            """
            WITH daily AS (
              SELECT trace_id, DATE '1970-01-01' + CAST(start_s // 86400 AS INTEGER) AS day,
                     SUM(CAST(round(value * 1e6) AS BIGINT)) AS kwh_micros
              FROM final GROUP BY ALL)
            SELECT trace_id, strftime(day, '%Y-%m') AS month, SUM(kwh_micros) AS kwh_micros,
                   SUM(kwh_micros) * 21 // 100 + 9500000 AS bill_micros
            FROM daily GROUP BY ALL
            """
        ).fetchall()
        out = {
            "table": sorted(con.sql("SELECT * FROM final").fetchall()),
            "datastore": sorted(con.sql("SELECT trace_id, start_s, value, version FROM final").fetchall()),
            "stream": sorted(con.sql(f"SELECT trace_id, start_s, value, version FROM ({stream})").fetchall()),
            "bill": sorted(bill),
        }
        con.close()
        return out

    def check(self, d: str, table) -> dict[str, str]:
        """{op name: error} for every output that differs from the DuckDB
        recomputation."""
        from pyspark.sql import functions as F

        from oeem_etl_spark.sources.upload import FilesystemDatastore

        bad = {}
        last = f"batch{len(self.batches) - 1}"
        got = sorted(
            tuple(r)
            for r in table.read(self.spark)
            .select("trace_id", F.unix_seconds("start"), F.round("value", 6), "estimated", "version")
            .collect()
        )
        if got != self.expected["table"]:
            bad[last] = f"snapshot table: {len(got)} rows, expected {len(self.expected['table'])}"

        def state(root):
            recs = FilesystemDatastore(root).state("key", "version").values()
            return sorted((r["trace_id"], r["start_s"], round(r["value"], 6), r["version"]) for r in recs)

        if state(os.path.join(d, "ds")) != self.expected["datastore"]:
            bad[last] = "datastore state differs from the recomputation"
        if state(os.path.join(d, "ds_stream")) != self.expected["stream"]:
            bad["stream_drain"] = "streamed datastore state differs from the recomputation"
        bill = duckdb.sql(
            f"SELECT trace_id, month, kwh_micros, bill_micros "
            f"FROM read_parquet('{os.path.join(d, 'pipeline', 'bill', '*.parquet')}')"
        ).fetchall()
        if sorted(bill) != self.expected["bill"]:
            bad["pipeline"] = "monthly bill differs from the recomputation"
        return bad
