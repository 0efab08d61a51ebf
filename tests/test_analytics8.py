"""Semantic invariants of the twelfth bank (drift stats, link
prediction, random projection) beyond the oracle-parity hash gate."""

from __future__ import annotations

from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.plans.analytics8 import (
    LP_MIN_CN,
    RP_DIMS,
    RP_SIGNS,
    q_ks_drift,
    q_link_prediction,
    q_psi_drift,
    q_random_projection,
)
from tests.conftest import SF_CORRECTNESS


def test_ks_drift_bounds(spark):
    """KS is a probability distance: d_num <= n1*n2 and the micro value
    lands in [0, 1e6]; every event type reports both periods non-empty
    (the synthetic month covers both halves)."""
    rows = q_ks_drift(spark, SF_CORRECTNESS).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.n1 > 0 and r.n2 > 0
        assert 0 <= r.d_num <= r.n1 * r.n2
        assert 0 <= r.ks_micro <= 1_000_000


def test_psi_drift_contributions_consistent(spark):
    """Included bins carry a non-null scaled contribution; excluded
    bins (empty on either side) carry NULL; totals are consistent
    across rows (window totals, not per-bin recomputes)."""
    rows = q_psi_drift(spark, SF_CORRECTNESS).collect()
    assert rows
    n1s = {r.n1 for r in rows}
    n2s = {r.n2 for r in rows}
    assert len(n1s) == 1 and len(n2s) == 1
    assert sum(r.c1 for r in rows) == n1s.pop()
    assert sum(r.c2 for r in rows) == n2s.pop()
    for r in rows:
        if r.included:
            assert r.psi_contrib_scaled is not None
        else:
            assert r.psi_contrib_scaled is None


def test_link_prediction_excludes_existing_edges(spark):
    """No predicted pair may already be an edge of the undirected kNN
    graph, pairs are canonical (a < b), and the AA weight is bounded by
    cn micro-units (each wedge contributes at most 1e6)."""
    from gtfs_realtime_etl_spark.plans.graph import _knn_edges
    from gtfs_realtime_etl_spark.sources.testdata import load_testdata

    emb = load_testdata(spark, SF_CORRECTNESS, "embeddings")[0]
    und = {
        (r.lo, r.hi)
        for r in _knn_edges(emb)
        .select(F.least("s", "d").alias("lo"), F.greatest("s", "d").alias("hi"))
        .distinct()
        .collect()
    }
    preds = q_link_prediction(spark, SF_CORRECTNESS).collect()
    assert preds
    for r in preds:
        assert r.node_a < r.node_b
        assert (r.node_a, r.node_b) not in und
        assert r.cn >= LP_MIN_CN
        assert 0 < r.aa_micro <= r.cn * 1_000_000


def test_link_candidates_hub_cap(spark):
    """The scale mechanism itself: two 5,000-degree hubs sharing all
    leaves.  Uncapped, each hub would fan out C(5000, 2) ≈ 12.5M
    wedges; the capped in-row generation emits exactly C(LP_MAX_NBRS, 2)
    leaf pairs (the deterministic smallest-id survivors) plus the
    hub-hub pair (supported by every leaf, deg-2 centers)."""
    import math

    from gtfs_realtime_etl_spark.plans.analytics8 import (
        LP_MAX_NBRS,
        link_candidates,
    )

    n_leaves = 5_000
    leaves = spark.range(2, n_leaves + 2)
    und = leaves.select(F.lit(0).alias("lo"), F.col("id").alias("hi")).unionAll(
        leaves.select(F.lit(1).alias("lo"), F.col("id").alias("hi"))
    )
    out = {(r.node_a, r.node_b): r for r in link_candidates(und).collect()}
    assert len(out) == math.comb(LP_MAX_NBRS, 2) + 1
    hub_pair = out.pop((0, 1))
    # Every leaf (deg 2, lg2 = 1) is a center for the hub-hub pair.
    assert hub_pair.cn == n_leaves
    assert hub_pair.aa_micro == n_leaves * 1_000_000
    capped = set(range(2, LP_MAX_NBRS + 2))
    for (a, b), r in out.items():
        # Leaf pairs: both centers are the hubs, whose capped degree is
        # LP_MAX_NBRS (lg2(64) = 6 -> recip 166667 micro).
        assert a in capped and b in capped
        assert r.cn == 2
        assert r.aa_micro == 2 * 166_667


def test_random_projection_matches_numpy(spark):
    """The decimal-exact projection agrees with a float64 numpy
    reference within rounding slack, for every (row, out-dim)."""
    import numpy as np

    from gtfs_realtime_etl_spark.sources.testdata import load_testdata

    emb = load_testdata(spark, SF_CORRECTNESS, "embeddings")[0]
    vecs = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in emb.limit(2000).collect()
    }
    s = np.asarray(RP_SIGNS, dtype=np.float64)
    out = q_random_projection(spark, SF_CORRECTNESS).collect()
    assert len(out) == len(vecs) * RP_DIMS
    for r in out[:500]:
        expect = float(s[r.j] @ vecs[r.vec_id])
        assert abs(r.p - expect) < 1e-6, (r.vec_id, r.j, r.p, expect)
