"""Misra-Gries frequent-items sketch: mergeable-summaries guarantees
must hold under EVERY partition layout (that layout-independence is
what lets the ``heavy_hitters`` registry query ride the hash gate)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.operators.sketches import (
    _mg_merge,
    mg_summary,
)

CAP = 8


def _token_df(spark, parts):
    # Skewed synthetic stream: token t_i appears ~ (40 - i)^2 times.
    rows = []
    for i in range(40):
        rows.extend([(f"t{i:02d}",)] * ((40 - i) ** 2 // 4 + 1))
    return spark.createDataFrame(rows, "token string").repartition(parts)


def _exact(spark, parts):
    return {
        r["token"]: r["c"]
        for r in _token_df(spark, parts)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }


@pytest.mark.parametrize("parts", [1, 3, 8])
def test_mg_bounds_hold_under_any_layout(spark, parts):
    toks = _token_df(spark, parts)
    grouped = mg_summary(toks, CAP).collect()
    est = {r["token"]: r["est"] for r in grouped if r["token"] is not None}
    # The single NULL-token row carries the global decrement mass D.
    (d,) = [r["d"] for r in grouped if r["token"] is None]
    exact = _exact(spark, parts)
    n = sum(exact.values())

    # Global decrement mass is bounded by N/(cap+1).
    assert d <= n // (CAP + 1)
    for tok, c in exact.items():
        e = est.get(tok, 0)
        # est <= exact <= est + D, for every token, any layout.
        assert e <= c, (tok, e, c)
        assert c - e <= d, (tok, e, c, d)
        # Guaranteed retention above the threshold.
        if c * (CAP + 1) > n:
            assert e > 0, (tok, c, n)
    # Nothing invented: every reported token exists in the stream.
    assert set(est) <= set(exact)


def test_mg_merge_reduction():
    counts = {f"x{i}": i + 1 for i in range(CAP + 3)}  # 11 entries, cap 8
    shrunk, s = _mg_merge(dict(counts), CAP)
    assert len(shrunk) <= CAP
    # s is the (cap+1)-th largest original value.
    assert s == sorted(counts.values(), reverse=True)[CAP]
    for t, v in shrunk.items():
        assert v == counts[t] - s
        assert v > 0


def test_mg_merge_noop_when_under_capacity():
    counts = {"a": 5, "b": 3}
    shrunk, s = _mg_merge(dict(counts), CAP)
    assert shrunk == counts and s == 0


def test_weighted_sample_layout_invariant(spark):
    """The sequential-Poisson sample is a pure function of the data —
    the physical layout (and hence the local-prune salt) must not
    change the selected rows."""
    from gtfs_realtime_etl_spark.plans.analytics5 import q_weighted_sample

    base = q_weighted_sample(spark, "/root/testdata/sf0.001").collect()
    assert base  # non-empty
    # Re-run with a different shuffle-partition setting in force.
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        again = q_weighted_sample(spark, "/root/testdata/sf0.001").collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert base == again
