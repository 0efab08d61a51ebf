"""Semantic invariants of the eighteenth bank (CUPED, split-conformal,
grid hotspots, decayed top-k, containment join) beyond the
oracle-parity hash gate — exact pure-Python replicas on the same data,
including the quadratic ground truth proving the containment join's
prefix/positional filters lossless."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from gtfs_realtime_etl_spark.plans.analytics14 import (
    CONF_LEVEL_DEN,
    CONF_LEVEL_NUM,
    CONT_DEN,
    CONT_NUM,
    DECAY_HALFLIFE_NS,
    DECAY_SHIFT,
    DECAY_TOPN,
    q_conformal_intervals,
    q_containment_join,
    q_cuped_adjustment,
    q_decayed_topk,
    q_grid_hotspots,
)
from gtfs_realtime_etl_spark.plans.base import NS_PER_DAY, NS_PER_HOUR
from gtfs_realtime_etl_spark.sources.testdata import load_testdata
from tests.conftest import SF_CORRECTNESS
from tests.test_analytics12 import _shingle_hash_set


def _events(spark):
    return (
        load_testdata(spark, SF_CORRECTNESS, "events")[0]
        .select("event_id", "ts", "user_id", "event_type", "value")
        .collect()
    )


def _cents(v: float) -> int:
    return int(math.floor(v * 100 + 0.5))


def test_cuped_adjustment_matches_python_replica(spark):
    evs = _events(spark)
    cut = (min(r.ts for r in evs) + max(r.ts for r in evs)) // 2
    per_user: dict = defaultdict(lambda: [0, 0, 0])  # x, n_pre, y
    for r in evs:
        s = per_user[r.user_id]
        if r.ts < cut:
            s[0] += _cents(r.value)
            s[1] += 1
        else:
            s[2] += _cents(r.value)
    pu = {u: s for u, s in per_user.items() if s[1] > 0}
    n = len(pu)
    sx = sum(s[0] for s in pu.values())
    sy = sum(s[2] for s in pu.values())
    sxx = sum(s[0] * s[0] for s in pu.values())
    sxy = sum(s[0] * s[2] for s in pu.values())
    den = float(n) * float(sxx) - float(sx) * float(sx)
    theta = (
        (float(n) * float(sxy) - float(sx) * float(sy)) / den if den else None
    )
    expected = {}
    for arm in (0, 1):
        arm_users = [s for u, s in pu.items() if u % 2 == arm]
        if not arm_users:
            continue
        nu = len(arm_users)
        ax = sum(s[0] for s in arm_users)
        ay = sum(s[2] for s in arm_users)
        mean_y = round(float(ay) / float(nu), 6)
        adj = round(
            (
                float(ay)
                - theta * (float(ax) - float(nu) * (float(sx) / float(n)))
            )
            / float(nu),
            6,
        )
        expected[arm] = (nu, mean_y, adj, round(theta, 9))
    got = {
        r.arm: (r.n_users, r.mean_y_cents, r.mean_y_adj_cents, r.theta)
        for r in q_cuped_adjustment(spark, SF_CORRECTNESS).collect()
    }
    assert got == expected and len(got) == 2


def test_conformal_intervals_matches_python_replica(spark):
    evs = _events(spark)
    rows = [
        (r.event_id, r.user_id, _cents(r.value), (r.ts % NS_PER_DAY) // NS_PER_HOUR)
        for r in evs
    ]
    train = [(h, c) for _, u, c, h in rows if u % 3 == 0]
    n_tr = len(train)
    shx = sum(h for h, _ in train)
    shy = sum(c for _, c in train)
    shxx = sum(h * h for h, _ in train)
    shxy = sum(h * c for h, c in train)
    b = (float(n_tr) * float(shxy) - float(shx) * float(shy)) / (
        float(n_tr) * float(shxx) - float(shx) * float(shx)
    )
    a = (float(shy) - b * float(shx)) / float(n_tr)
    cal = sorted(
        (abs(float(c) - (a + b * float(h))), eid)
        for eid, u, c, h in rows
        if u % 3 == 1
    )
    n_cal = len(cal)
    k = min(
        n_cal,
        (CONF_LEVEL_NUM * (n_cal + 1) + CONF_LEVEL_DEN - 1) // CONF_LEVEL_DEN,
    )
    qhat = cal[k - 1][0]
    test = [
        abs(float(c) - (a + b * float(h)))
        for _, u, c, h in rows
        if u % 3 == 2
    ]
    n_test = len(test)
    n_cov = sum(1 for r in test if r <= qhat)
    out = q_conformal_intervals(spark, SF_CORRECTNESS).collect()
    assert len(out) == 1
    r = out[0]
    assert (
        r.a_hat,
        r.b_hat,
        r.qhat_cents,
        r.n_cal,
        r.n_test,
        r.n_covered,
        r.coverage_ppm,
    ) == (
        round(a, 9),
        round(b, 9),
        round(qhat, 6),
        n_cal,
        n_test,
        n_cov,
        n_cov * 1_000_000 // n_test,
    )
    # The conformal guarantee itself (finite-sample, exchangeable):
    # coverage should sit near the nominal 90 %.
    assert r.coverage_ppm >= 850_000


def test_grid_hotspots_matches_python_replica(spark):
    evs = _events(spark)
    cells: Counter = Counter()
    for r in evs:
        cells[((r.ts // NS_PER_DAY + 4) % 7, (r.ts % NS_PER_DAY) // NS_PER_HOUR)] += 1
    expected = {}
    for (d, h), n in cells.items():
        mx = max(
            (
                cells.get(((d + dd) % 7, (h + dh) % 24), 0)
                for dd in (-1, 0, 1)
                for dh in (-1, 0, 1)
                if (dd, dh) != (0, 0)
            ),
            default=0,
        )
        if n > mx:
            expected[(d, h)] = (n, mx)
    got = {
        (r.dow, r.hour): (r.n_events, r.max_neighbor)
        for r in q_grid_hotspots(spark, SF_CORRECTNESS).collect()
    }
    assert got == expected and len(got) > 0


def test_decayed_topk_matches_python_replica(spark):
    evs = _events(spark)
    tmax = max(r.ts for r in evs)
    scores: dict = defaultdict(int)
    for r in evs:
        k = (tmax - r.ts) // DECAY_HALFLIFE_NS
        if k <= DECAY_SHIFT:
            scores[(r.event_type, r.user_id)] += 1 << (DECAY_SHIFT - int(k))
    by_type = defaultdict(list)
    for (et, u), s in scores.items():
        by_type[et].append((-s, u))
    expected = {}
    for et, lst in by_type.items():
        lst.sort()
        for rank, (neg_s, u) in enumerate(lst[:DECAY_TOPN], start=1):
            expected[(et, u)] = (-neg_s, rank)
    rows = q_decayed_topk(spark, SF_CORRECTNESS).collect()
    got = {
        (r.event_type, r.user_id): (int(r.score_fp), r.rank) for r in rows
    }
    assert got == expected and len(got) > 0
    # Recency dominates: every top entry must carry non-zero weight.
    assert all(s > 0 for s, _ in got.values())
    # decayed_nano is the exact fixed-point projection of score_fp.
    assert all(
        r.decayed_nano == int(r.score_fp) * 10**9 // (1 << DECAY_SHIFT)
        for r in rows
    )


def test_containment_join_matches_bruteforce(spark):
    """The prefix/positional-filtered containment join must equal the
    quadratic directional ground truth EXACTLY — losslessness."""
    docs = (
        load_testdata(spark, SF_CORRECTNESS, "documents")[0]
        .select("doc_id", "text")
        .collect()
    )
    sets = {r.doc_id: _shingle_hash_set(r.text) for r in docs}
    expected = {}
    for da, a in sets.items():
        for db, b in sets.items():
            if da == db:
                continue
            inter = len(a & b)
            if inter * CONT_DEN >= CONT_NUM * len(a):
                expected[(da, db)] = (
                    len(a),
                    len(b),
                    inter,
                    inter * 1_000_000 // len(a),
                )
    got = {
        (r.doc_a, r.doc_b): (r.n_a, r.n_b, r.n_inter, r.containment_ppm)
        for r in q_containment_join(spark, SF_CORRECTNESS).collect()
    }
    assert got == expected
    assert len(got) > 0
    # Containment is a superset of the symmetric near-dup relation:
    # mutual pairs appear in both directions.
    assert any((b, a) in got for (a, b) in got)
