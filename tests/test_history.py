"""Unit fixtures for history operators (operators/history.py): SCD2
run-collapse and validity chaining; CDC label coverage incl. deletes."""

from __future__ import annotations

import datetime as dt

from oeem_etl_spark.operators.history import diff_snapshots, scd2_from_events


def _ts(day, h=0):
    return dt.datetime(2024, 1, day, h)


def test_scd2_collapses_runs_and_chains_validity(spark):
    rows = [
        (1, _ts(1), "a", 10),
        (1, _ts(2), "a", 11),  # same value -> same version
        (1, _ts(3), "b", 12),  # change -> version 2
        (1, _ts(4), "a", 13),  # change back -> version 3 (not merged with v1)
        (2, _ts(1), "x", 14),
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v string, eid long")
    out = {
        (r["k"], r["version"]): (r["v"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in scd2_from_events(df, "k", "ts", ["v"], tiebreak="eid").collect()
    }
    assert out[(1, 1)] == ("a", _ts(1), _ts(3), False)
    assert out[(1, 2)] == ("b", _ts(3), _ts(4), False)
    assert out[(1, 3)] == ("a", _ts(4), None, True)
    assert out[(2, 1)] == ("x", _ts(1), None, True)
    assert len(out) == 4


def test_scd2_tied_timestamps_deterministic_valid_to(spark):
    """Two versions sharing valid_from (tied event timestamps, tiebreak
    orders them into distinct versions): the lead() that assigns valid_to
    must order by (valid_from, version), so version 1 deterministically
    gets the empty interval and version 2 survives as the live row —
    regardless of shuffle order (orderBy valid_from alone would leave
    this nondeterministic)."""
    rows = [
        (1, _ts(1), "a", 10),
        (1, _ts(1), "b", 11),  # same ts, later tiebreak -> version 2
        (1, _ts(2), "c", 12),
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v string, eid long")
    for _ in range(3):  # repeated runs: same plan, but cheap re-assurance
        out = {
            r["version"]: (r["v"], r["valid_from"], r["valid_to"], r["is_current"])
            for r in scd2_from_events(df, "k", "ts", ["v"], tiebreak="eid").collect()
        }
        assert out == {
            1: ("a", _ts(1), _ts(1), False),  # empty interval, superseded
            2: ("b", _ts(1), _ts(2), False),
            3: ("c", _ts(2), None, True),
        }


def test_diff_snapshots_all_labels(spark):
    old = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double"
    )
    new = spark.createDataFrame(
        [(2, 20.0), (3, 99.0), (4, 40.0)], "k long, v double"
    )
    got = {
        r["k"]: (r["change"], r["v"])
        for r in diff_snapshots(old, new, "k", ["v"]).collect()
    }
    # key 2 unchanged -> absent; 1 deleted keeps old value; 3 updated and
    # 4 inserted carry new values
    assert got == {1: ("delete", 10.0), 3: ("update", 99.0), 4: ("insert", 40.0)}


def test_scd2_and_cdc_null_value_transitions(spark):
    """null→value and value→null must register as changes (ordinary struct
    `!=` returns NULL there and would swallow them)."""
    rows = [
        (1, _ts(1), None, 10),
        (1, _ts(2), "a", 11),   # null -> 'a': new version
        (1, _ts(3), None, 12),  # 'a' -> null: new version
        (1, _ts(4), None, 13),  # null -> null: same version
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v string, eid long")
    hist = scd2_from_events(df, "k", "ts", ["v"], tiebreak="eid").collect()
    assert len(hist) == 3
    versions = {r["version"]: r["v"] for r in hist}
    assert versions == {1: None, 2: "a", 3: None}

    old = spark.createDataFrame([(1, None), (2, 5.0), (3, None)], "k long, v double")
    new = spark.createDataFrame([(1, 7.0), (2, None), (3, None)], "k long, v double")
    got = {
        r["k"]: (r["change"], r["v"])
        for r in diff_snapshots(old, new, "k", ["v"]).collect()
    }
    # 1: null->7.0 update; 2: 5.0->null update carrying the NEW (null)
    # value — emitting the stale 5.0 would break CDC apply-back; 3:
    # null->null unchanged
    assert got == {1: ("update", 7.0), 2: ("update", None)}
