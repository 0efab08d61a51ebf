"""Semantic invariants of the seventeenth bank (funnel attribution,
quantile normalization, RFM segmentation, A/B z-test) beyond the
oracle-parity hash gate — exact pure-Python/numpy replicas on the same
data."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np

from gtfs_realtime_etl_spark.plans.analytics13 import (
    AB_SUCCESS_CUT,
    CONVERSION_TYPE,
    QN_GRID,
    RFM_Q,
    TOUCH_TYPES,
    q_ab_test_ztest,
    q_funnel_attribution,
    q_quantile_normalization,
    q_rfm_segments,
)
from gtfs_realtime_etl_spark.sources.testdata import load_testdata
from tests.conftest import SF_CORRECTNESS


def _events(spark):
    return (
        load_testdata(spark, SF_CORRECTNESS, "events")[0]
        .select("event_id", "ts", "user_id", "event_type", "value")
        .collect()
    )


def test_funnel_attribution_matches_python_replica(spark):
    evs = _events(spark)
    by_user = defaultdict(list)
    for r in evs:
        by_user[r.user_id].append((r.ts, r.event_id, r.event_type))
    expected: Counter = Counter()
    for rows in by_user.values():
        rows.sort()
        first = last = None
        for _, _, et in rows:
            if et == CONVERSION_TYPE:
                expected[("first", first or "(none)")] += 1
                expected[("last", last or "(none)")] += 1
            if et in TOUCH_TYPES:
                last = et
                first = first or et
    got = {
        (r.model, r.touch_type): r.n_conversions
        for r in q_funnel_attribution(spark, SF_CORRECTNESS).collect()
    }
    assert got == dict(expected)
    assert sum(v for (m, _), v in got.items() if m == "first") == sum(
        v for (m, _), v in got.items() if m == "last"
    ) > 0


def test_quantile_normalization_matches_numpy_replica(spark):
    evs = _events(spark)
    values = np.array([r.value for r in evs])
    grid = np.percentile(
        values, [100.0 * i / QN_GRID for i in range(QN_GRID + 1)],
        method="linear",
    )
    by_source = defaultdict(list)
    for r in evs:
        by_source[r.event_type].append((r.value, r.event_id))
    expected: Counter = Counter()
    for src, rows in by_source.items():
        rows.sort()
        n = len(rows)
        for rank0 in range(n):
            pr = rank0 / (n - 1) if n > 1 else 0.0
            idx = math.floor(pr * QN_GRID + 0.5)
            cents = math.floor(grid[idx] * 100 + 0.5)
            expected[(src, idx, cents)] += 1
    got = {
        (r.source, r.idx, r.norm_cents): r.n
        for r in q_quantile_normalization(spark, SF_CORRECTNESS).collect()
    }
    assert got == dict(expected)
    # normalization property: every source now spans the pooled grid
    assert all(
        min(i for (s2, i, _) in got if s2 == s) == 0
        and max(i for (s2, i, _) in got if s2 == s) == QN_GRID
        for s in by_source
    )


def _ntile(items: list, k: int) -> dict:
    """items pre-sorted; returns item -> 1-based ntile bucket (SQL
    semantics: first n % k buckets get the extra row)."""
    n = len(items)
    base, extra = divmod(n, k)
    out, pos = {}, 0
    for b in range(1, k + 1):
        size = base + (1 if b <= extra else 0)
        for it in items[pos : pos + size]:
            out[it] = b
        pos += size
    return out


def test_rfm_segments_matches_python_replica(spark):
    orders = (
        load_testdata(spark, SF_CORRECTNESS, "orders")[0]
        .select("o_custkey", "o_orderdate", "o_totalprice")
        .collect()
    )
    agg = {}
    for r in orders:
        c = agg.setdefault(r.o_custkey, [None, 0, 0])
        d = r.o_orderdate
        c[0] = d if c[0] is None or d > c[0] else c[0]
        c[1] += 1
        c[2] += math.floor(r.o_totalprice * 100 + 0.5)
    keys = list(agg)
    rq = _ntile(sorted(keys, key=lambda k: (agg[k][0], k)), RFM_Q)
    fq = _ntile(sorted(keys, key=lambda k: (agg[k][1], k)), RFM_Q)
    mq = _ntile(sorted(keys, key=lambda k: (agg[k][2], k)), RFM_Q)
    seg = defaultdict(lambda: [0, 0])
    for k in keys:
        s = seg[(rq[k], fq[k], mq[k])]
        s[0] += 1
        s[1] += agg[k][2]
    expected = {
        k: (v[0], v[1] // v[0]) for k, v in seg.items()
    }
    got = {
        (r.r_q, r.f_q, r.m_q): (r.n_customers, r.avg_monetary_cents)
        for r in q_rfm_segments(spark, SF_CORRECTNESS).collect()
    }
    assert got == expected


def test_ab_ztest_matches_python_replica(spark):
    evs = _events(spark)
    cnt = defaultdict(lambda: [0, 0, 0, 0])
    for r in evs:
        c = cnt[r.event_type]
        a = r.user_id % 2 == 0
        s = r.value >= AB_SUCCESS_CUT
        if a:
            c[0] += 1
            c[1] += int(s)
        else:
            c[2] += 1
            c[3] += int(s)
    rows = q_ab_test_ztest(spark, SF_CORRECTNESS).collect()
    assert rows
    for r in rows:
        n1, x1, n2, x2 = cnt[r.event_type]
        assert (r.n1, r.x1, r.n2, r.x2) == (n1, x1, n2, x2)
        p = (x1 + x2) / (n1 + n2)
        z = (x1 / n1 - x2 / n2) / math.sqrt(
            p * (1.0 - p) * (1.0 / n1 + 1.0 / n2)
        )
        assert abs(r.z_stat - z) < 5e-7
        assert r.significant == (abs(z) > 1.96)
