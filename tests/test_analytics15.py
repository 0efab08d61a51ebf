"""Semantic invariants of the nineteenth bank (Wasserstein drift,
audience overlap, HHI concentration) — exact pure-Python replicas on
the same data, beyond the oracle-parity hash gate."""

from __future__ import annotations

import math
from collections import defaultdict

from gtfs_realtime_etl_spark.plans.analytics15 import (
    q_audience_overlap,
    q_hhi_concentration,
    q_wasserstein_drift,
)
from gtfs_realtime_etl_spark.sources.testdata import load_testdata
from tests.conftest import SF_CORRECTNESS


def _events(spark):
    return (
        load_testdata(spark, SF_CORRECTNESS, "events")[0]
        .select("user_id", "event_type", "value")
        .collect()
    )


def test_wasserstein_drift_matches_python_replica(spark):
    evs = _events(spark)
    by_type: dict = defaultdict(lambda: defaultdict(lambda: [0, 0]))
    n_half: dict = defaultdict(lambda: [0, 0])
    for r in evs:
        half = r.user_id % 2
        cents = int(math.floor(r.value * 100 + 0.5))
        by_type[r.event_type][cents][half] += 1
        n_half[r.event_type][half] += 1
    expected = {}
    for et, dist in by_type.items():
        n0, n1 = n_half[et]
        grid = sorted(dist)
        cum0 = cum1 = 0
        num = 0
        for x, nxt in zip(grid, grid[1:]):
            cum0 += dist[x][0]
            cum1 += dist[x][1]
            num += abs(cum0 * n1 - cum1 * n0) * (nxt - x)
        expected[et] = (
            n0,
            n1,
            num * 1_000_000 // (n0 * n1) if n0 > 0 and n1 > 0 else None,
        )
    got = {
        r.event_type: (r.n0, r.n1, r.w1_micro)
        for r in q_wasserstein_drift(spark, SF_CORRECTNESS).collect()
    }
    assert got == expected and len(got) > 0
    # W1 is a metric: identical halves would give 0; on real data it
    # must be non-negative everywhere.
    assert all(w is None or w >= 0 for _, _, w in got.values())


def test_audience_overlap_matches_python_replica(spark):
    evs = _events(spark)
    users_of: dict = defaultdict(set)
    for r in evs:
        users_of[r.event_type].add(r.user_id)
    types = sorted(users_of)
    expected = {}
    for i, a in enumerate(types):
        for b in types[i + 1 :]:
            inter = len(users_of[a] & users_of[b])
            if inter:
                union = len(users_of[a]) + len(users_of[b]) - inter
                expected[(a, b)] = (
                    len(users_of[a]),
                    len(users_of[b]),
                    inter,
                    inter * 1_000_000 // union,
                )
    got = {
        (r.type_a, r.type_b): (r.n_a, r.n_b, r.n_both, r.jaccard_ppm)
        for r in q_audience_overlap(spark, SF_CORRECTNESS).collect()
    }
    assert got == expected and len(got) > 0


def test_hhi_concentration_matches_python_replica(spark):
    lineitem, supplier, nation = load_testdata(
        spark, SF_CORRECTNESS, "lineitem", "supplier", "nation"
    )
    li = lineitem.select(
        "l_suppkey", "l_extendedprice", "l_discount"
    ).collect()
    supp = {
        r.s_suppkey: r.s_nationkey
        for r in supplier.select("s_suppkey", "s_nationkey").collect()
    }
    nname = {
        r.n_nationkey: r.n_name
        for r in nation.select("n_nationkey", "n_name").collect()
    }
    per_supp: dict = defaultdict(int)
    for r in li:
        cents = int(
            math.floor(r.l_extendedprice * (1 - r.l_discount) * 100 + 0.5)
        )
        per_supp[(supp[r.l_suppkey], r.l_suppkey)] += cents
    per_nation: dict = defaultdict(lambda: [0, 0, 0])  # n, t, sq
    for (nk, _), c in per_supp.items():
        s = per_nation[nk]
        s[0] += 1
        s[1] += c
        s[2] += c * c
    expected = {
        nname[nk]: (n, t, sq * 10**12 // (t * t))
        for nk, (n, t, sq) in per_nation.items()
    }
    got = {
        r.n_name: (r.n_suppliers, int(r.revenue_cents), r.hhi_ppm_q6)
        for r in q_hhi_concentration(spark, SF_CORRECTNESS).collect()
    }
    assert got == expected and len(got) > 0
    # HHI is bounded: 10^12/n_suppliers <= hhi_ppm_q6 <= 10^12.
    for n, _, h in got.values():
        assert 10**12 / n - 1 <= h <= 10**12
