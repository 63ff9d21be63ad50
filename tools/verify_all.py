"""Driver-style verification sweep: every declared query vs its DuckDB
oracle, in a BARE session (no library session confs — exactly what the
driver does), at one or more scale-factor directories.

Usage:
    python tools/verify_all.py                 # sf0.01 (the driver's gate)
    python tools/verify_all.py sf0.001 sf0.1   # other/multiple sf dirs
    python tools/verify_all.py sf0.01 --only k13,l2   # substring filter

Exit code 0 iff every oracle query matches (row count + repr-sorted
values) and every rows-only query executes. Known benign repr diff: none —
timestamps compare equal because DuckDB's fetchall() truncates ns→µs like
Spark does (SURVEY.md §7.4).
"""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def main() -> int:
    argv = sys.argv[1:]
    only: list[str] = []
    if "--only" in argv:
        i = argv.index("--only")
        only = argv[i + 1].split(",")
        argv = argv[:i] + argv[i + 2 :]
    sfs = argv or ["sf0.01"]
    repo = Path(__file__).resolve().parents[1]
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", repo / "__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from pyspark.sql import SparkSession

    # Hostile-config knobs (determinism re-certification): master via
    # SPARK_VERIFY_MASTER, post-warmup conf overrides via
    # SPARK_VERIFY_CONFS="k=v,k=v" (applied AFTER entry() so the library's
    # set-once session confs are in place first, then deliberately abused).
    # Parsing splits on ',' then the first '=': conf VALUES containing
    # commas (e.g. extraJavaOptions lists) cannot be expressed — use the
    # JSON form SPARK_VERIFY_CONFS_JSON='{"k": "v,with,commas"}' instead.
    import os

    spark = (
        SparkSession.builder.master(os.environ.get("SPARK_VERIFY_MASTER", "local[8]"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    print("entry rows:", len(mod.entry(spark).collect()))
    for kv in filter(None, os.environ.get("SPARK_VERIFY_CONFS", "").split(",")):
        k, _, v = kv.partition("=")
        spark.conf.set(k.strip(), v.strip())
        print("conf override:", k.strip(), "=", v.strip())
    if os.environ.get("SPARK_VERIFY_CONFS_JSON"):
        import json

        for k, v in json.loads(os.environ["SPARK_VERIFY_CONFS_JSON"]).items():
            spark.conf.set(k, str(v))
            print("conf override (json):", k, "=", v)

    qs, osql = mod.queries(), mod.oracle_sql()
    if only:
        qs = {k: v for k, v in qs.items() if any(p in k for p in only)}
        osql = {k: v for k, v in osql.items() if k in qs}
    failures = 0
    for sf in sfs:
        sf_dir = sf if "/" in sf else f"/root/testdata/{sf}"
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        bad = []
        for name in sorted(osql):
            try:
                s = sorted(
                    map(repr, [tuple(r) for r in qs[name](spark, sf_dir).collect()])
                )
                d = sorted(map(repr, [tuple(r) for r in con.sql(osql[name]).fetchall()]))
                if s != d:
                    bad.append(name)
                    print(f"{sf}: {name} MISMATCH {len(s)} vs {len(d)}")
            except Exception as e:  # noqa: BLE001 — report-and-continue sweep
                bad.append(name)
                print(f"{sf}: {name} ERROR {str(e)[:200]}")
        for name in sorted(set(qs) - set(osql)):
            try:
                qs[name](spark, sf_dir).count()
            except Exception as e:  # noqa: BLE001
                bad.append(name)
                print(f"{sf}: {name} (rows-only) ERROR {str(e)[:200]}")
        print(
            f"{sf}: {len(osql)} oracle + {len(qs) - len(osql)} rows-only checked;"
            f" failures: {bad or 'none'}"
        )
        failures += len(bad)
        con.close()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
