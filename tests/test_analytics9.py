"""Semantic invariants of the thirteenth bank (CUSUM change-point,
decision stump, OLS, Z-order layout, greedy coverage) beyond the
oracle-parity hash gate."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.plans.analytics9 import (
    GC_ROUNDS,
    Z_BITS,
    q_cusum_changepoint,
    q_decision_stump,
    q_greedy_coverage,
    q_ols_regression,
    q_zorder_layout,
)
from gtfs_realtime_etl_spark.sources.testdata import load_testdata
from tests.conftest import SF_CORRECTNESS


def test_cusum_bounds_and_day_range(spark):
    """|S_d| = |cum·D − rk·N| ≤ N·D, so cusum_micro ∈ [0, 1e6]; the
    change-point day must be one of the type's observed days."""
    rows = q_cusum_changepoint(spark, SF_CORRECTNESS).collect()
    assert len(rows) == 5
    ev = load_testdata(spark, SF_CORRECTNESS, "events")[0]
    days = {
        (r.event_type, r.day)
        for r in ev.select(
            "event_type", F.expr("ts div 86400000000000L").alias("day")
        )
        .distinct()
        .collect()
    }
    for r in rows:
        assert 0 <= r.s_abs_max <= r.n_events * r.n_days
        assert 0 <= r.cusum_micro <= 1_000_000
        assert (r.event_type, r.cp_day) in days


def test_decision_stump_gain_nonnegative_and_counts(spark):
    """Class counts are an exact partition of the table; the winning
    split's information gain is non-negative (micro-bit quantization
    cannot push the argmax below the trivial split)."""
    rows = q_decision_stump(spark, SF_CORRECTNESS).collect()
    li = load_testdata(spark, SF_CORRECTNESS, "lineitem")[0]
    n = li.count()
    n_pos = li.filter(F.col("l_returnflag") == "R").count()
    best = [r for r in rows if r.is_best]
    assert best and best[0].ig_scaled >= 0
    for r in rows:
        assert r.n_left + r.n_right == n
        assert r.pos_l + r.pos_r == n_pos
        assert 0 < r.n_left < n


def test_ols_matches_numpy_lstsq(spark):
    """The Cramer solve must agree with numpy's least squares on the
    same data to ~1e-6 (the decimal-exact sums remove any accumulation
    order effect; this pins the algebra itself)."""
    row = q_ols_regression(spark, SF_CORRECTNESS).collect()[0]
    li = load_testdata(spark, SF_CORRECTNESS, "lineitem")[0]
    pdf = li.select("l_quantity", "l_discount", "l_extendedprice").toPandas()
    x = np.column_stack(
        [np.ones(len(pdf)), pdf["l_quantity"], pdf["l_discount"]]
    )
    beta, *_ = np.linalg.lstsq(x, pdf["l_extendedprice"], rcond=None)
    assert abs(row.b0 - beta[0]) < 1e-4
    assert abs(row.b1 - beta[1]) < 1e-6
    assert abs(row.b2 - beta[2]) < 1e-3
    # extendedprice = qty · unit price: the quantity slope is strongly
    # positive on any TPC-H-shaped lineitem.
    assert row.b1 > 0


def test_zorder_bounds_both_dims_lex_does_not(spark):
    """A 1024-key Morton bucket is an aligned 32×32 tile, so BOTH
    per-bucket spans are ≤ 31; the lexicographic layout bounds only
    the leading (price) dimension — its worst date span must exceed
    the Z-order bound, which is exactly the zone-map pruning claim."""
    rows = q_zorder_layout(spark, SF_CORRECTNESS).collect()
    tile = (1 << (Z_BITS - 3)) - 1  # 1024 = 4^5 → 32×32 tiles → span ≤ 31
    z = [r for r in rows if r.layout == "zorder"]
    lex = [r for r in rows if r.layout == "lex"]
    assert z and lex
    for r in z:
        assert r.x_span <= tile and r.y_span <= tile
    assert max(r.y_span for r in lex) > tile
    assert sum(r.n_rows for r in z) == sum(r.n_rows for r in lex)


def test_greedy_coverage_submodular(spark):
    """Greedy max-coverage invariants: marginal gains are
    non-increasing (submodularity), covered_total is their cumulative
    sum, and no document is selected twice."""
    rows = sorted(
        q_greedy_coverage(spark, SF_CORRECTNESS).collect(),
        key=lambda r: r.round,
    )
    assert len(rows) == GC_ROUNDS
    gains = [r.gain for r in rows]
    assert gains == sorted(gains, reverse=True)
    assert len({r.doc_id for r in rows}) == len(rows)
    cum = 0
    for r in rows:
        cum += r.gain
        assert r.covered_total == cum
