"""Oracle dtype audit: catch driver hash flaps before the driver does.

The driver compares Spark vs DuckDB results through pandas with a
dtype-sensitive value hash, so a value-identical result can still go red
when the two sides materialize with different numpy *kinds* — the classic
case being a DuckDB windowed ``SUM`` (HUGEINT → float64) against Spark's
int64 (as ``k11_sessionize`` once did).
``repr``-based compares (tools/verify_all.py) miss this because DuckDB's
``fetchall()`` yields Python ints for HUGEINT; only the pandas path shows it.

This tool materializes BOTH sides to pandas at a small scale factor and
flags any column whose numpy dtype *kind* differs (int vs float, numeric vs
object, ...).  Kind — not exact width — is what the driver's hash keys on:
``pd.util.hash_pandas_object`` hashes int32/int64 identically but int vs
float differently.

Usage:
    python tools/check_oracle_dtypes.py            # sf0.001
    python tools/check_oracle_dtypes.py sf0.01
    python tools/check_oracle_dtypes.py sf0.001 --only k11,d9

Exit 0 iff no kind mismatches.
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


def load_entry():
    repo = Path(__file__).resolve().parents[1]
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", repo / "__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def kind_of(dtype) -> str:
    """Collapse a pandas dtype to the equivalence class the driver hash sees."""
    import numpy as np

    try:
        k = np.dtype(dtype).kind
    except TypeError:  # extension dtypes (e.g. pandas nullable) → object-ish
        return "O"
    # unsigned and signed ints hash alike through hash_pandas_object
    return {"u": "i"}.get(k, k)


def audit(sf_dir: str, only: list[str]) -> list[str]:
    mod = load_entry()
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, osql = mod.queries(), mod.oracle_sql()
    if only:
        osql = {k: v for k, v in osql.items() if any(p in k for p in only)}

    bad: list[str] = []
    for name in sorted(osql):
        try:
            spdf = qs[name](spark, sf_dir).toPandas()
            dkdf = con.sql(osql[name]).df()
        except Exception as e:  # noqa: BLE001 — report-and-continue sweep
            bad.append(name)
            print(f"{name}: ERROR {str(e)[:200]}")
            continue
        mismatches = []
        for col in sorted(set(spdf.columns) & set(dkdf.columns)):
            ks, kd = kind_of(spdf[col].dtype), kind_of(dkdf[col].dtype)
            if ks != kd:
                mismatches.append(f"{col}: spark {spdf[col].dtype} vs oracle {dkdf[col].dtype}")
        if set(spdf.columns) != set(dkdf.columns):
            mismatches.append(
                f"column sets differ: {sorted(spdf.columns)} vs {sorted(dkdf.columns)}"
            )
        if mismatches:
            bad.append(name)
            print(f"{name}: " + "; ".join(mismatches))
    print(f"{sf_dir}: {len(osql)} oracles dtype-audited; flapped: {bad or 'none'}")
    return bad


def main() -> int:
    argv = sys.argv[1:]
    only: list[str] = []
    if "--only" in argv:
        i = argv.index("--only")
        only = argv[i + 1].split(",")
        argv = argv[:i] + argv[i + 2 :]
    sf = argv[0] if argv else "sf0.001"
    sf_dir = sf if "/" in sf else f"/root/testdata/{sf}"
    return 1 if audit(sf_dir, only) else 0


if __name__ == "__main__":
    raise SystemExit(main())
