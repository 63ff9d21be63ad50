"""Differential oracle: every registered query with oracle SQL must match
DuckDB on row count, column names, type kinds, and (order-insensitive)
values — the local mirror of the driver's CORRECTNESS gate."""

from __future__ import annotations

import datetime as dt
import math

import pytest

from oeem_etl_spark import plans
from oeem_etl_spark.plans import registry

plans.load_all()

ALL = registry.all_queries()
SQL_CHECKED = sorted(n for n, q in ALL.items() if q.sql is not None)
ROWS_ONLY = sorted(n for n, q in ALL.items() if q.sql is None)


def _kind(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, (int,)):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, (dt.datetime,)):
        return "ts"
    if isinstance(v, (dt.date,)):
        return "date"
    if isinstance(v, (list, tuple)):
        return "list"
    return "str"


def _norm(v):
    """Normalize a cell for cross-engine comparison."""
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, int):
        return int(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return float(v)
    if hasattr(v, "to_pydatetime"):  # pandas Timestamp
        v = v.to_pydatetime()
    if isinstance(v, dt.datetime):
        # compare at microsecond precision, tz-naive UTC
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dt.timedelta):
        return v.total_seconds()
    try:
        import numpy as np

        if isinstance(v, np.generic):
            return _norm(v.item())
    except ImportError:
        pass
    return str(v)


def _spark_pandas_kind(dtype) -> str:
    """Pandas dtype kind a Spark column materializes as via toPandas().

    DateType and DecimalType become `object` (datetime.date / Decimal
    instances) — NOT datetime64/float64 — which is the root of the
    driver-hash dtype flaps (k11 family)."""
    from pyspark.sql import types as S

    if isinstance(dtype, (S.ByteType, S.ShortType, S.IntegerType, S.LongType)):
        return "i"
    if isinstance(dtype, (S.FloatType, S.DoubleType)):
        return "f"
    if isinstance(dtype, S.BooleanType):
        return "b"
    if isinstance(dtype, (S.TimestampType, S.TimestampNTZType)):
        return "M"
    if isinstance(dtype, S.DayTimeIntervalType):
        return "m"
    return "O"  # String, Date, Decimal, Array, Map, Struct, Binary, ...


def _duck_pandas_kind(t) -> str:
    """Pandas dtype kind a DuckDB column materializes as via .df().

    HUGEINT and DECIMAL become float64 (no int128 in numpy); DATE becomes
    datetime64[us] (no date dtype in pandas)."""
    s = str(t).upper()
    if s.startswith("DECIMAL") or s in ("HUGEINT", "UHUGEINT", "DOUBLE", "FLOAT", "REAL"):
        return "f"
    if s in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "i"
    if s == "BOOLEAN":
        return "b"
    if s == "DATE" or s.startswith("TIMESTAMP"):
        return "M"
    if s == "INTERVAL":
        return "m"
    return "O"


def _rows(colnames, records):
    """Project to name-sorted columns, normalize, sort rows."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(_norm(rec[i]) for i in order) for rec in records]
    return sorted(out, key=repr)


@pytest.fixture(scope="module", autouse=True)
def _clear_cached_frames(spark):
    """Running a query materializes the frames its operators persist
    (k23's monthly rollup, d24b's projected base), and the shared
    session's cache manager keeps them. A later query over the same
    tables then plans against the cached frame, whose formatted plan
    prints both the final and the initial adaptive plan, so a static
    plan test counts its exchanges twice."""
    yield
    spark.catalog.clearCache()


@pytest.mark.parametrize("name", SQL_CHECKED)
def test_oracle_match(name, spark, duck, sf_dir):
    q = ALL[name]
    sdf = q.fn(spark, sf_dir)

    # Driver-canonicalizer gate: the driver hashes
    # results through pandas (name-sorted columns -> sort_values over all
    # columns -> value hash), and Array/Map/Struct cells materialize as
    # numpy.ndarray / dict / Row — unhashable/unorderable there (how
    # h19_soundex_blocking erred in CORRECTNESS_r04 while the repr-based
    # local sweep stayed green). Oracle-checked output must be flat:
    # array_join / to_json the column instead (the d5_collect_list idiom).
    from pyspark.sql import types as S

    nested = [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (S.ArrayType, S.MapType, S.StructType))
    ]
    assert not nested, (
        f"{name}: oracle-checked output has nested columns {nested} — the "
        f"driver's pandas canonicalizer cannot sort/hash them; flatten with "
        f"array_join/to_json on BOTH engine and oracle sides"
    )

    spark_cols = sdf.columns
    spark_recs = [tuple(r) for r in sdf.collect()]

    rel = duck.sql(q.sql)
    duck_cols = rel.columns
    duck_recs = rel.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={spark_cols} duck={duck_cols}"
    )

    # pandas-dtype-kind parity: the driver hashes through pandas, where a
    # value-identical result still flaps when the two sides materialize
    # with different numpy kinds (DuckDB HUGEINT/DECIMAL -> float64 vs
    # Spark int64; Spark DateType -> object vs DuckDB DATE -> datetime64).
    # Schema-level, so it costs nothing and runs on every oracle.
    spark_kinds = {f.name: _spark_pandas_kind(f.dataType) for f in sdf.schema.fields}
    duck_kinds = {c: _duck_pandas_kind(t) for c, t in zip(duck_cols, rel.types)}
    assert spark_kinds == duck_kinds, (
        f"{name}: pandas dtype-kind flap (driver hash would diverge): "
        f"spark={spark_kinds} duck={duck_kinds}"
    )
    assert len(spark_recs) == len(duck_recs), (
        f"{name}: row count spark={len(spark_recs)} duck={len(duck_recs)}"
    )

    # type-kind signature per column: int-vs-float mismatches are masked by
    # Python equality (1 == 1.0) but may break the driver's value hash
    def col_kinds(cols, recs):
        kinds = {}
        for i, c in enumerate(cols):
            kinds[c] = {_kind(rec[i]) for rec in recs} - {"null"}
        return kinds

    assert col_kinds(spark_cols, spark_recs) == col_kinds(duck_cols, duck_recs), (
        f"{name}: column type-kind mismatch: "
        f"spark={col_kinds(spark_cols, spark_recs)} duck={col_kinds(duck_cols, duck_recs)}"
    )

    s_rows = _rows(spark_cols, spark_recs)
    d_rows = _rows(duck_cols, duck_recs)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)} value mismatches; first 3: {mismatches[:3]}"
    )


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(name, spark, sf_dir):
    """Rows-only queries must at least run and return a stable schema."""
    q = ALL[name]
    sdf = q.fn(spark, sf_dir)
    n = sdf.count()
    assert n >= 0
    assert len(sdf.columns) > 0
