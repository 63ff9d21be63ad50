"""catalog.local_frame: driver rows become a LocalRelation, not a pickled RDD.

The helper must give the same rows as ``createDataFrame(list, schema)``,
raise on input that path would reject or silently coerce, plan as a
``LocalRelation`` that runs no Spark job, and be the only place library
code calls ``createDataFrame``.
"""

from __future__ import annotations

import datetime as dt
import decimal
import inspect
import subprocess
import sys
from pathlib import Path

import pytest

from oeem_etl_spark import catalog
from oeem_etl_spark.catalog import local_frame
from oeem_etl_spark.plans import load_all, registry

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO / "perfbench"))
from workloads import CORPUS_CURATION, METER_ETL  # noqa: E402

MATRIX_DDL = (
    "s string, i int, b bigint, d double, t boolean, n string,"
    " a array<int>, m map<string,bigint>, dec decimal(12,3), day date,"
    " ts timestamp, ats array<timestamp>"
)
MATRIX_ROWS = [
    (
        "héllo",
        -(2**31),
        2**62,
        1.5,
        True,
        None,
        [1, None, 3],
        {"k": 1, "z": None},
        decimal.Decimal("123456789.125"),
        dt.date(2024, 2, 29),
        dt.datetime(2024, 3, 10, 2, 30, 0, 123456),
        [dt.datetime(1999, 12, 31, 23, 59, 59), None],
    ),
    (
        "",
        2**31 - 1,
        -(2**63),
        float("-inf"),
        False,
        None,
        [],
        {},
        decimal.Decimal("-0.5"),
        dt.date(1970, 1, 1),
        dt.datetime(1970, 1, 1),
        [],
    ),
    (None,) * 12,
]


@pytest.mark.parametrize("tz", ["UTC", "America/Los_Angeles"])
@pytest.mark.parametrize("rows", [MATRIX_ROWS, []], ids=["rows", "empty"])
def test_rows_equal_create_dataframe(spark, tz, rows):
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        got = local_frame(spark, rows, MATRIX_DDL)
        want = spark.createDataFrame(rows, MATRIX_DDL)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_struct_type_schema_and_arrow_off(spark):
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("k", LongType(), False)])
    old = spark.conf.get("spark.sql.execution.arrow.pyspark.enabled")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    try:
        got = local_frame(spark, [(3,), (1,)], schema)
    finally:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", old)
    assert got.schema == schema
    assert [r.k for r in got.collect()] == [3, 1]


@pytest.mark.parametrize(
    "ddl,rows",
    [
        ("i int", [(2**31,)]),  # overflow
        ("b bigint", [(2**63,)]),  # overflow
        ("i int", [(1.0,)]),  # float into an integer column
        ("d double", [(1,)]),  # int into a double column
        ("t boolean", [(1,)]),
        ("s string", [(7,)]),  # createDataFrame would store "7"
        ("dec decimal(5,2)", [(decimal.Decimal("1.005"),)]),  # would round
        ("dec decimal(5,2)", [(decimal.Decimal("12345.6"),)]),  # precision
        ("day date", [("2024-01-01",)]),
        ("s string, i int", [("a",)]),  # short row
        ("a array<int>", [(5,)]),
    ],
)
def test_bad_input_raises(spark, ddl, rows):
    with pytest.raises(Exception):
        local_frame(spark, rows, ddl).collect()


def test_null_in_non_nullable_field_raises(spark):
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("k", LongType(), False)])
    with pytest.raises(Exception):
        local_frame(spark, [(None,)], schema)


def test_non_struct_schema_raises(spark):
    with pytest.raises(TypeError):
        local_frame(spark, [(1,)], "int")


def test_local_relation_runs_no_job(spark):
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.nextJobId()
    df = local_frame(spark, [("a", 1), ("b", 2), ("c", 3)], "k string, v int")
    rows = df.collect()
    assert dag.nextJobId() == before
    assert sorted(tuple(r) for r in rows) == [("a", 1), ("b", 2), ("c", 3)]
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"


def test_library_calls_create_dataframe_only_in_the_helper():
    out = subprocess.run(
        ["git", "grep", "-n", "createDataFrame(", "oeem_etl_spark"],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    hits = [line.split(":", 2) for line in out.splitlines()]
    assert hits
    src, start = inspect.getsourcelines(catalog.local_frame)
    helper_lines = range(start, start + len(src))
    for path, lineno, _ in hits:
        assert path == "oeem_etl_spark/catalog.py", path
        assert int(lineno) in helper_lines, lineno


@pytest.mark.parametrize("name", METER_ETL + CORPUS_CURATION)
def test_workload_plans_scan_no_python_rdd(spark, sf_dir, name):
    load_all()
    df = registry.queries()[name](spark, sf_dir)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Scan ExistingRDD" not in plan
