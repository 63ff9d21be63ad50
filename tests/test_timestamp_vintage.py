"""The fixture `events.ts` column has shipped in two physical parquet
vintages (TIMESTAMP(NANOS)→int64-under-nanosAsLong in round 1, µs
TIMESTAMP_NTZ in round 2). catalog.canonicalize must normalize BOTH to
TimestampType (LTZ), in batch loads and in streaming.source.events_stream,
so epoch/watermark/window surfaces resolve, and the values must be
identical because the session timezone is pinned UTC."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from oeem_etl_spark import catalog
from oeem_etl_spark.operators.timeseries import sessionize
from oeem_etl_spark.streaming.source import events_stream

ROWS = [
    (1, dt.datetime(2026, 1, 1, 0, 0, 0), 10, "a", 1.5, "{}"),
    (2, dt.datetime(2026, 1, 1, 0, 10, 0), 10, "b", 2.5, "{}"),
    (3, dt.datetime(2026, 1, 1, 1, 0, 0), 10, "a", 3.5, "{}"),
]
SCHEMA_NTZ = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string,"
    " value double, props string"
)
SCHEMA_LTZ = SCHEMA_NTZ.replace("timestamp_ntz", "timestamp")


def _write_events(spark, tmp_path, schema, sub):
    d = tmp_path / sub
    df = spark.createDataFrame(ROWS, schema)
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "events.parquet"))
    return str(d)


def test_both_vintages_canonicalize_to_ltz(spark, tmp_path):
    outs = []
    for schema, sub in [(SCHEMA_NTZ, "ntz"), (SCHEMA_LTZ, "ltz")]:
        sf_dir = _write_events(spark, tmp_path, schema, sub)
        ev = catalog.load_table(spark, sf_dir, "events")
        assert dict(ev.dtypes)["ts"] == "timestamp", sub
        assert dict(events_stream(spark, sf_dir).dtypes)["ts"] == "timestamp", sub
        # epoch surface resolves and round-trips the UTC wall-clock value
        got = (
            ev.select("event_id", F.unix_seconds("ts").alias("es"))
            .orderBy("event_id")
            .collect()
        )
        outs.append([(r["event_id"], r["es"]) for r in got])
    assert outs[0] == outs[1]
    assert outs[0][0][1] == int(
        dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc).timestamp()
    )


def test_sessionize_accepts_ntz_directly(spark):
    ev = spark.createDataFrame(ROWS, SCHEMA_NTZ)
    sess = sessionize(ev, keys=["user_id"], ts="ts", gap_minutes=30)
    got = {r["event_id"]: r["session_id"] for r in sess.collect()}
    # 10-minute gap stays in session 1; the 50-minute gap opens session 2
    assert got == {1: 1, 2: 1, 3: 2}
