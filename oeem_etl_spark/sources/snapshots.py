"""Snapshot table format: versioned manifests over immutable parquet
(SURVEY.md §2.A6/A8-adjacent — the transactional layer the raw
directory sinks lack; the Delta/Iceberg core mechanics in ~200 stdlib
lines, no external table-format dependency).

Mechanics:

- **Immutable data files.** Every commit writes NEW parquet files under
  ``<root>/data/<uuid>/``; nothing is ever rewritten in place.
- **Full manifests.** ``<root>/_manifests/v{N}.json`` lists the table's
  member files at version N, with per-file row counts and per-column
  min/max stats (read from parquet footers via pyarrow — metadata only,
  no data scan), and the table's schema as Spark JSON (Delta's
  ``metaData.schemaString``). A read hands that schema to Spark, so it
  opens no footer and starts no inference job.
- **Atomic publish + optimistic concurrency.** A manifest is written to a
  temp name, fsynced, then ``os.link``-ed to its final name — link is
  atomic and FAILS with EEXIST if another writer won the version race, so
  a reader never observes a half-written manifest and two concurrent
  commits can't both claim version N (the loser retries on the next
  version). This is exactly the Delta log protocol's put-if-absent
  primitive; on S3/GCS substitute the store's conditional-put.
- **Readers pin a version.** ``read()`` resolves the latest manifest (or
  an explicit ``version=`` / ``as_of=`` timestamp) and hands Spark the
  explicit file list — so long-running jobs are snapshot-isolated from
  concurrent commits, and time travel is just "read an old manifest".
- **File skipping.** ``read(..., prune=(col, lo, hi))`` drops files whose
  footer min/max range cannot intersect the predicate before Spark ever
  opens them — the manifest-level analogue of row-group pruning, and the
  mechanism that makes a 100 TB table usable for selective queries
  (Spark still applies the exact filter; pruning only shrinks the list).
- **Transactional compaction.** ``compact()`` rewrites the current file
  set into ~target-size files and publishes the result as a normal
  commit — readers see either the old files or the new, never a mix
  (a directory swap by two renames would leave a gap readers can see).

Single-filesystem scope: atomicity relies on same-volume ``os.link``;
the manifest JSON is small (one entry per file) and never routed through
Spark. Stats collection reads footers only, driver-side, O(files) — at
real scale run it in the executor that wrote the file and attach stats
to the commit message instead (documented seam: ``_file_entry``).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


@dataclass(frozen=True)
class CommitConflict(Exception):
    version: int

    def __str__(self) -> str:  # pragma: no cover - message only
        return f"version {self.version} was committed concurrently; re-read and retry"


def _file_entry(path: str) -> dict:
    """Manifest entry for one parquet file: rows + per-column min/max from
    the footer (metadata-only read; no row decode)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    stats: dict[str, list] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            s = col.statistics
            if s is None or not s.has_min_max:
                continue
            name = col.path_in_schema
            try:
                mn, mx = s.min, s.max
            except NotImplementedError:
                continue  # pyarrow cannot decode INT32/INT64-backed decimals
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode(), mx.decode()
                except UnicodeDecodeError:
                    continue
            if not isinstance(mn, (int, float, str, bool)):
                continue  # timestamps/decimals: JSON-unfriendly, skip stats
            cur = stats.get(name)
            stats[name] = (
                [mn, mx] if cur is None else [min(cur[0], mn), max(cur[1], mx)]
            )
    return {
        "path": path,
        "rows": md.num_rows,
        "bytes": os.path.getsize(path),
        "stats": stats,
    }


def _may_intersect(entry: dict, col: str, lo, hi) -> bool:
    """Conservative file-level predicate check: exact partition value if
    the file is hive-partitioned on ``col``, else footer min/max stats,
    else keep. Partition values arrive as path strings — compare
    numerically when both sides parse, else lexicographically (ISO dates
    order correctly either way)."""
    part = entry.get("partition", {})
    if col in part:
        v = part[col]
        try:
            return float(lo) <= float(v) <= float(hi)
        except (TypeError, ValueError):
            return str(lo) <= v <= str(hi)
    s = entry["stats"].get(col)
    return s is None or (s[0] <= hi and s[1] >= lo)


class SnapshotTable:
    def __init__(self, root: str):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.manifest_dir = os.path.join(root, "_manifests")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.manifest_dir, exist_ok=True)

    # -- manifest plumbing ---------------------------------------------------

    def versions(self) -> list[int]:
        out = []
        for f in os.listdir(self.manifest_dir):
            if f.startswith("v") and f.endswith(".json"):
                out.append(int(f[1:-5]))
        return sorted(out)

    def _manifest(self, version: int) -> dict:
        try:
            with open(os.path.join(self.manifest_dir, f"v{version}.json")) as fh:
                return json.load(fh)
        except FileNotFoundError:
            raise ValueError(
                f"version {version} does not exist (vacuumed or never committed); "
                f"versions: {self.versions()}"
            ) from None

    @staticmethod
    def _schema(manifest: dict) -> StructType | None:
        """The schema recorded at commit; None for manifests written before
        commits recorded one (their reads infer it from a footer)."""
        js = manifest.get("schema")
        return None if js is None else StructType.fromJson(json.loads(js))

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _publish(self, manifest: dict, version: int) -> int:
        """Atomic put-if-absent of v{version}.json (os.link raises EEXIST
        on a lost race — the optimistic-concurrency check)."""
        tmp = os.path.join(self.manifest_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        final = os.path.join(self.manifest_dir, f"v{version}.json")
        try:
            os.link(tmp, final)
        except FileExistsError:
            raise CommitConflict(version) from None
        finally:
            os.unlink(tmp)
        return version

    # -- write path ----------------------------------------------------------

    def commit(
        self,
        df: DataFrame,
        mode: str = "append",
        expected_version: int | None = None,
        batch_id: int | None = None,
        partition_by: list[str] | None = None,
    ) -> int:
        """Write ``df`` as new immutable files and publish the next
        manifest. ``mode='append'`` keeps prior files; ``'overwrite'``
        replaces the membership (old files stay on disk for time travel
        until vacuumed). ``expected_version`` (optional) asserts the
        read-snapshot this commit was derived from — the
        serializable-upsert guard: if another writer committed since,
        raise instead of publishing a lost update.

        ``batch_id`` (optional) makes the commit IDEMPOTENT per id: a
        commit whose batch_id is ≤ the last recorded one is a replay
        (Structured Streaming re-delivers the in-flight batch after a
        crash) and becomes a no-op returning the current version — the
        foreachBatch exactly-once recipe, transactional because the id
        rides inside the atomically-published manifest itself.

        The manifest records the table schema: ``df.schema``, except that an
        append keeps the base version's schema (a column the append adds is
        read only with ``merge_schema=True``)."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"commit mode must be 'append' or 'overwrite', not {mode!r}")
        base = self.latest_version()
        if batch_id is not None and base is not None:
            last = self._manifest(base).get("batch_id")
            if last is not None and batch_id <= last:
                return base  # replayed micro-batch: already committed
        if expected_version is not None and base != expected_version:
            raise CommitConflict((base or 0) + 1)
        out_dir = os.path.join(self.data_dir, uuid.uuid4().hex)
        w = df.write.mode("error")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(out_dir)
        files = sorted(
            os.path.join(root, f)
            for root, _dirs, fs in os.walk(out_dir)
            for f in fs
            if f.endswith(".parquet")
        )
        entries = [_file_entry(f) for f in files]
        if partition_by:
            # hive layout: .../col=value/... — record EXACT partition
            # values in the manifest so reads prune by equality, not
            # min/max approximation
            for e in entries:
                vals = {}
                for seg in e["path"][len(out_dir) + 1 :].split(os.sep)[:-1]:
                    col, _, val = seg.partition("=")
                    vals[col] = val
                e["partition"] = vals
        if mode == "append" and base is not None:
            prior = self._manifest(base)
            entries = prior["files"] + entries
            schema = prior.get("schema")
        else:
            schema = df.schema.json()
        manifest = {
            "version": (base or 0) + 1 if base is not None else 1,
            "committed_at": time.time(),
            "mode": mode,
            "files": entries,
        }
        if schema is not None:
            manifest["schema"] = schema
        if batch_id is not None:
            manifest["batch_id"] = batch_id
        return self._publish(manifest, manifest["version"])

    def rollback(self, to_version: int) -> int:
        """Publish a NEW version whose membership equals ``to_version`` —
        history is append-only (the audit trail survives), matching
        Delta's RESTORE semantics."""
        latest = self.latest_version()
        if latest is None:
            raise ValueError("cannot roll back an empty table")
        m = self._manifest(to_version)
        new = {
            "version": latest + 1,
            "committed_at": time.time(),
            "mode": f"rollback:{to_version}",
            "files": m["files"],
        }
        if "schema" in m:
            new["schema"] = m["schema"]
        return self._publish(new, latest + 1)

    def compact(self, spark: SparkSession, target_file_mb: int = 128) -> int:
        """Transactional small-file compaction: rewrite the CURRENT file
        set into ~target-size files, publish as overwrite. Readers pin
        manifests, so they see old or new membership, never a mix; a
        concurrent append loses the version race and retries (its data
        files are unaffected). On a hive-partitioned table the partition
        column survives as a DATA column (reads are unchanged) but the
        directory layout flattens — pass the original ``partition_by``
        through ``commit`` yourself if path-level pruning must survive
        compaction."""
        import math

        base = self.latest_version()
        if base is None:
            raise ValueError("cannot compact an empty table")
        m = self._manifest(base)
        total = sum(e["bytes"] for e in m["files"])
        n = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
        df = self.read(spark, version=base).repartition(n)
        return self.commit(df, mode="overwrite", expected_version=base)

    def vacuum(self, retain_last: int = 2) -> tuple[int, int]:
        """Garbage-collect history: keep the newest ``retain_last``
        manifests, delete every data file referenced by NO kept manifest,
        then drop the old manifests. Returns (files_deleted,
        manifests_deleted). Irreversible — time travel past the horizon
        is gone, matching VACUUM semantics on real table formats. Safe
        ordering: files first, manifests last, so a crash mid-vacuum
        leaves only still-listed (kept) or already-unlisted state, never
        a manifest pointing at a deleted file."""
        if retain_last < 1:
            raise ValueError(f"retain_last must be at least 1, not {retain_last}")
        vs = self.versions()
        keep, drop = vs[-retain_last:], vs[:-retain_last]
        if not drop:
            return (0, 0)
        live = {e["path"] for v in keep for e in self._manifest(v)["files"]}
        dead = {
            e["path"]
            for v in drop
            for e in self._manifest(v)["files"]
            if e["path"] not in live
        }
        for p in dead:
            try:
                os.unlink(p)
            except FileNotFoundError:
                pass
        for v in drop:
            os.unlink(os.path.join(self.manifest_dir, f"v{v}.json"))
        return (len(dead), len(drop))

    # -- read path -----------------------------------------------------------

    def _resolve(self, version: int | None, as_of: float | None) -> dict:
        if version is not None:
            return self._manifest(version)
        vs = self.versions()
        if not vs:
            raise ValueError("cannot read an empty table")
        if as_of is None:
            return self._manifest(vs[-1])
        best = None
        for v in vs:
            m = self._manifest(v)
            if m["committed_at"] <= as_of:
                best = m
        if best is None:
            raise ValueError(f"no snapshot at or before {as_of}")
        return best

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        as_of: float | None = None,
        prune: tuple[str, object, object] | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Snapshot read: explicit file list from the pinned manifest.
        ``prune=(col, lo, hi)`` skips files whose footer [min, max] for
        ``col`` cannot intersect [lo, hi] (conservative: files without
        stats for the column are kept). The caller still applies the
        exact predicate — pruning changes I/O, never results.

        ``merge_schema=True`` reconciles commits written with EVOLVED
        schemas (column adds): the read schema is the union of all file
        schemas and files missing a column yield NULLs — Delta/Iceberg
        column-add semantics via parquet's own mergeSchema. Off by
        default because schema reconciliation reads every file footer.

        A default read takes the schema the pinned manifest recorded, so it
        opens no footer and starts no Spark job until an action runs. Three
        reads still infer the schema from a footer: manifests written before
        commits recorded a schema, ``merge_schema=True``, and hive-partitioned
        files (partition column types come from the directory names)."""
        m = self._resolve(version, as_of)
        if not m["files"]:
            # an entirely fileless table has no schema to offer
            raise ValueError("snapshot has no files (empty commit?)")
        entries = m["files"]
        if prune is not None:
            col, lo, hi = prune
            entries = [e for e in entries if _may_intersect(e, col, lo, hi)]
        if not entries:
            # every file pruned: pruning must change I/O, NEVER results —
            # return an empty frame with the table schema (zero rows of one
            # known file; only its footer is read, and not even that when
            # the schema is recorded)
            return self._frame(spark, m, m["files"][:1]).limit(0)
        return self._frame(spark, m, entries, merge_schema)

    def _frame(
        self, spark: SparkSession, m: dict, entries: list[dict], merge_schema: bool = False
    ) -> DataFrame:
        """The frame over ``entries``, a subset of manifest ``m``'s files.
        Plain files are read with the schema ``m`` recorded, if any.
        Hive-partitioned files keep their partition columns in the
        directory names UNDER each commit's uuid dir, so they are grouped
        by commit dir and each group is read with its own basePath, then
        unioned — group count = retained commits, bounded."""
        if not any("partition" in e for e in entries):
            reader = spark.read
            schema = self._schema(m)
            if merge_schema:
                reader = reader.option("mergeSchema", "true")
            elif schema is not None and not any("partition" in e for e in m["files"]):
                reader = reader.schema(schema)
            return reader.parquet(*[e["path"] for e in entries])
        groups: dict[str, list[str]] = {}
        for e in entries:
            rel = os.path.relpath(e["path"], self.data_dir)
            base = os.path.join(self.data_dir, rel.split(os.sep)[0])
            groups.setdefault(base, []).append(e["path"])
        dfs = [
            spark.read.option("basePath", base)
            .option("mergeSchema", str(merge_schema).lower())
            .parquet(*paths)
            for base, paths in sorted(groups.items())
        ]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=merge_schema)
        return out

    def file_count(self, version: int | None = None) -> int:
        return len(self._resolve(version, None)["files"])

    def read_incremental(
        self, spark: SparkSession, since_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Change feed for APPEND-ONLY history: the rows added strictly
        after ``since_version`` up to ``to_version`` (default latest) —
        i.e. the files present in the newer manifest but not the older
        one. This is how a downstream job consumes the table
        incrementally (the manifest is the cursor; no re-scan of old
        data, no dedup join). Raises if any commit in the range rewrote
        membership (overwrite/rollback/compaction) — file-set diffs
        don't describe row-level changes across rewrites, so refusing is
        the correct behavior, not an approximation. Rows come in the schema
        ``to_version`` recorded (inferred for older manifests and for
        hive-partitioned files, as in ``read``)."""
        to_version = to_version if to_version is not None else self.latest_version()
        if to_version is None or since_version > to_version:
            raise ValueError(
                f"bad change-feed range: since_version {since_version}, to_version {to_version}"
            )
        for v in range(since_version + 1, to_version + 1):
            m = self._manifest(v)
            if m["mode"] != "append":
                raise ValueError(
                    f"version {v} is '{m['mode']}', not append — the file-diff "
                    "change feed is only valid across pure appends"
                )
        old = {e["path"] for e in self._manifest(since_version)["files"]}
        m = self._manifest(to_version)
        new = [e for e in m["files"] if e["path"] not in old]
        if not new:
            raise ValueError("no files added in range (empty increment)")
        return self._frame(spark, m, new)
