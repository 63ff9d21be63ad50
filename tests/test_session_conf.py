"""One policy for the engine's runtime SQL settings (session.configure):
every session gets them once, on get_session or on its first table load,
and a caller's later override sticks."""

from __future__ import annotations

from oeem_etl_spark import catalog
from oeem_etl_spark.session import get_session

PARTITIONS = "spark.sql.shuffle.partitions"


def test_suite_runs_with_library_settings(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get(PARTITIONS) == str(spark.sparkContext.defaultParallelism)


def test_caller_override_survives_load_and_get_session(spark, sf_dir):
    prev = spark.conf.get(PARTITIONS)
    spark.conf.set(PARTITIONS, "3")
    try:
        catalog.load_table(spark, sf_dir, "region")
        assert spark.conf.get(PARTITIONS) == "3"
        assert get_session() is spark
        assert spark.conf.get(PARTITIONS) == "3"
    finally:
        spark.conf.set(PARTITIONS, prev)


def test_new_session_configured_on_first_load(spark, sf_dir):
    fresh = spark.newSession()
    assert fresh.conf.get("spark.oeem.confsApplied", None) is None
    ev = catalog.load_table(fresh, sf_dir, "events")
    assert fresh.conf.get("spark.sql.session.timeZone") == "UTC"
    assert fresh.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert fresh.conf.get(PARTITIONS) == str(fresh.sparkContext.defaultParallelism)
    assert dict(ev.dtypes)["ts"] == "timestamp"
