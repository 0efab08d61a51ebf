"""Bucketed interval-overlap join: result parity with the naive
O(n*m) join, dedup correctness across shared buckets, and the
no-cartesian plan guarantee it exists to provide."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.operators.rangejoin import overlap_join


def _intervals(spark, seed: int, n: int, name: str, with_key: bool = False):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        s = rng.randrange(0, 10_000)
        ln = rng.choice([0, rng.randrange(0, 50), rng.randrange(0, 2_000)])
        row = [i, s, s + ln]
        if with_key:
            row.append(rng.choice(["a", "b"]))
        rows.append(tuple(row))
    cols = [f"{name}_id", f"{name}_start", f"{name}_end"]
    if with_key:
        cols.append("grp")
    return spark.createDataFrame(rows, cols)


def _naive_pairs(left_rows, right_rows):
    out = set()
    for li, ls, le, *lk in left_rows:
        for ri, rs, re_, *rk in right_rows:
            if lk == rk and ls <= re_ and rs <= le:
                out.add((li, ri))
    return out


@pytest.mark.parametrize("width", [64, 500, 7_000])
def test_overlap_join_matches_naive(spark, width):
    left = _intervals(spark, 1, 120, "l")
    right = _intervals(spark, 2, 150, "r")
    got = overlap_join(
        left,
        right,
        left_bounds=("l_start", "l_end"),
        right_bounds=("r_start", "r_end"),
        bucket_width=width,
    )
    pairs = {(r["l_id"], r["r_id"]) for r in got.collect()}
    # Exactly-once emission: no duplicates even for pairs sharing many
    # buckets (collect() returns a list — compare sizes to prove it).
    assert got.count() == len(pairs)
    expect = _naive_pairs(
        [tuple(r) for r in left.collect()], [tuple(r) for r in right.collect()]
    )
    assert pairs == expect


def test_overlap_join_with_keys_and_residual(spark):
    """Per-side key columns match through the residual."""
    left = _intervals(spark, 3, 100, "l", with_key=True)
    right = _intervals(spark, 4, 100, "r", with_key=True)
    expect = {
        (a, b)
        for a, b in _naive_pairs(
            [tuple(r) for r in left.collect()],
            [tuple(r) for r in right.collect()],
        )
        if a < b
    }
    got = overlap_join(
        left.withColumnRenamed("grp", "l_grp"),
        right.withColumnRenamed("grp", "r_grp"),
        left_bounds=("l_start", "l_end"),
        right_bounds=("r_start", "r_end"),
        bucket_width=100,
        residual=(F.col("l_grp") == F.col("r_grp")) & (F.col("l_id") < F.col("r_id")),
    )
    pairs = {(r["l_id"], r["r_id"]) for r in got.collect()}
    assert pairs == expect


def test_overlap_join_zero_length_intervals(spark):
    left = spark.createDataFrame([(1, 100, 100)], ["l_id", "l_start", "l_end"])
    right = spark.createDataFrame(
        [(1, 100, 100), (2, 101, 101), (3, 50, 100)],
        ["r_id", "r_start", "r_end"],
    )
    got = overlap_join(
        left,
        right,
        left_bounds=("l_start", "l_end"),
        right_bounds=("r_start", "r_end"),
        bucket_width=64,
    )
    assert {r["r_id"] for r in got.collect()} == {1, 3}


def test_overlap_join_rejects_ambiguous_columns(spark):
    df = spark.createDataFrame([(1, 2, 3)], ["x", "s", "e"])
    with pytest.raises(ValueError, match="ambiguous"):
        overlap_join(
            df,
            df,
            left_bounds=("s", "e"),
            right_bounds=("s", "e"),
            bucket_width=10,
        )


def test_overlap_join_guards_pathological_span(spark):
    left = spark.createDataFrame(
        [(1, 0, 10_000_000)], ["l_id", "l_start", "l_end"]
    )
    right = spark.createDataFrame([(1, 5, 6)], ["r_id", "r_start", "r_end"])
    got = overlap_join(
        left,
        right,
        left_bounds=("l_start", "l_end"),
        right_bounds=("r_start", "r_end"),
        bucket_width=10,
    )
    with pytest.raises(Exception, match="overlap_join"):
        got.collect()


def test_overlap_join_plan_is_equi_join(spark):
    """The whole point: the physical plan is a hash/sort-merge join on
    the bucket key, never BroadcastNestedLoop/CartesianProduct."""
    import contextlib
    import io
    import re

    left = _intervals(spark, 5, 50, "l")
    right = _intervals(spark, 6, 50, "r")
    got = overlap_join(
        left,
        right,
        left_bounds=("l_start", "l_end"),
        right_bounds=("r_start", "r_end"),
        bucket_width=100,
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain("formatted")
    plan = buf.getvalue()
    assert not re.search(r"CartesianProduct|BroadcastNestedLoopJoin", plan), plan
    assert re.search(r"HashJoin|SortMergeJoin", plan), plan
