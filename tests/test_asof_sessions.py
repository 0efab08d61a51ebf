"""Unit tests for the as-of join and sessionization operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.operators.asof import asof_join
from gtfs_realtime_etl_spark.operators.sessions import session_stats, sessionize


@pytest.fixture(scope="module")
def quotes(spark):
    # (key, ts, px)
    rows = [
        ("A", 10, 1.0),
        ("A", 20, 2.0),
        ("A", 20, 2.5),  # duplicate ts — later right rows win
        ("A", 40, 4.0),
        ("B", 15, 9.0),
    ]
    return spark.createDataFrame(rows, "sym string, ts long, px double")


@pytest.fixture(scope="module")
def trades(spark):
    rows = [
        ("A", 5, 100),   # before any quote
        ("A", 20, 101),  # exactly at a quote ts (inclusive)
        ("A", 25, 102),  # between quotes
        ("A", 99, 103),  # long after
        ("B", 15, 104),
        ("C", 50, 105),  # key with no quotes at all
    ]
    return spark.createDataFrame(rows, "sym string, ts long, qty int")


def _by_qty(df):
    return {r["qty"]: r for r in df.collect()}

def test_asof_backward(quotes, trades):
    out = asof_join(trades, quotes, on="sym")
    assert set(out.columns) == {"sym", "ts", "qty", "ts_right", "px"}
    m = _by_qty(out)
    assert len(m) == 6  # every left row survives
    assert m[100]["px"] is None
    assert m[101]["ts_right"] == 20  # inclusive match at equal ts
    assert m[102]["ts_right"] == 20
    assert m[103]["ts_right"] == 40 and m[103]["px"] == 4.0
    assert m[104]["px"] == 9.0
    assert m[105]["px"] is None


def test_asof_forward(quotes, trades):
    out = asof_join(trades, quotes, on="sym", direction="forward")
    m = _by_qty(out)
    assert m[100]["ts_right"] == 10  # earliest quote at/after ts=5
    assert m[101]["ts_right"] == 20  # inclusive
    assert m[102]["ts_right"] == 40
    assert m[103]["px"] is None  # nothing after ts=99
    assert m[105]["px"] is None


def test_asof_tolerance(quotes, trades):
    out = asof_join(trades, quotes, on="sym", tolerance=10)
    m = _by_qty(out)
    assert m[102]["ts_right"] == 20  # gap 5 <= 10
    assert m[103]["ts_right"] is None  # gap 59 > 10 → nulled, row kept
    assert len(m) == 6


def test_sessionize_gaps(spark):
    rows = [
        (1, 0), (1, 100), (1, 5000), (1, 5100),  # user 1: two sessions
        (2, 50),  # user 2: one singleton session
    ]
    ev = spark.createDataFrame(rows, "user_id int, ts long")
    s = sessionize(ev, gap=1000)
    got = {(r["user_id"], r["ts"]): r["session_id"] for r in s.collect()}
    assert got[(1, 0)] == 1 and got[(1, 100)] == 1
    assert got[(1, 5000)] == 2 and got[(1, 5100)] == 2
    assert got[(2, 50)] == 1

    stats = session_stats(ev, gap=1000)
    rows = {(r["user_id"], r["session_id"]): r for r in stats.collect()}
    assert rows[(1, 1)]["n_events"] == 2
    assert rows[(1, 1)]["duration"] == 100
    assert rows[(1, 2)]["session_start"] == 5000
    assert rows[(2, 1)]["n_events"] == 1 and rows[(2, 1)]["duration"] == 0


def test_asof_single_shuffle_plan(quotes, trades):
    """The as-of join must be one exchange on the key — no join node,
    no cross product."""
    out = asof_join(trades, quotes, on="sym")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
