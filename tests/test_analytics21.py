"""Semantic invariants of the twenty-fifth bank (EWMA anomaly,
conversion latency, DAU/MAU) — exact pure-Python replicas on the same
data, beyond the oracle-parity hash gate."""

from __future__ import annotations

import math
from collections import defaultdict

from gtfs_realtime_etl_spark.plans.analytics21 import (
    EWMA_LAGS,
    MAU_WINDOW_DAYS,
    q_dau_mau_stickiness,
    q_ewma_daily_anomaly,
    q_time_to_convert,
)
from gtfs_realtime_etl_spark.sources.testdata import load_testdata
from tests.conftest import SF_CORRECTNESS

_NS_PER_DAY = 86_400_000_000_000
_DEN = (1 << EWMA_LAGS) - 1


def _cents(value: float) -> int:
    return int(math.floor(value * 100 + 0.5))


def _events(spark):
    return (
        load_testdata(spark, SF_CORRECTNESS, "events")[0]
        .select("user_id", "event_id", "event_type", "ts", "value")
        .collect()
    )


def test_ewma_daily_anomaly_matches_python_replica(spark):
    rows = _events(spark)
    daily: dict = defaultdict(int)
    for r in rows:
        daily[(r.event_type, r.ts // _NS_PER_DAY)] += _cents(r.value)
    by_type: dict = defaultdict(list)
    for (t, d), x in daily.items():
        by_type[t].append((d, x))
    expected = {}
    for t, xs in by_type.items():
        xs.sort()
        for i, (d, x) in enumerate(xs):
            p = sum(
                xs[i - k][1] * (1 << (EWMA_LAGS - k))
                for k in range(1, EWMA_LAGS + 1)
                if i - k >= 0
            )
            expected[(t, d)] = (
                x,
                p,
                p * 1_000_000 // _DEN,
                abs(x * _DEN - p) * 1_000_000 // max(p, 1),
            )
    got = {
        (r.event_type, r.day): (r.x_cents, r.p_num, r.ewma_micro, r.anomaly_ppm)
        for r in q_ewma_daily_anomaly(spark, SF_CORRECTNESS).collect()
    }
    assert got == expected
    # EWMA of a positive series is positive once history exists.
    assert all(v[2] >= 0 for v in got.values())


def test_time_to_convert_matches_python_replica(spark):
    rows = _events(spark)
    fv: dict = {}
    fp: dict = {}
    for r in rows:
        if r.event_type == "view":
            fv[r.user_id] = min(fv.get(r.user_id, r.ts), r.ts)
        elif r.event_type == "purchase":
            fp[r.user_id] = min(fp.get(r.user_id, r.ts), r.ts)
    hist: dict = defaultdict(int)
    for u, v in fv.items():
        if u in fp and fp[u] > v:
            hist[(fp[u] - v) // _NS_PER_DAY] += 1
    total = sum(hist.values())
    expected, cum = {}, 0
    for d in sorted(hist):
        cum += hist[d]
        expected[d] = (hist[d], cum, cum * 1_000_000 // total)
    got = {
        r.delay_days: (r.n_users, r.cum_users, r.cum_share_ppm)
        for r in q_time_to_convert(spark, SF_CORRECTNESS).collect()
    }
    assert got == expected
    # Cumulative share ends at exactly 1e6 ppm.
    assert max(got.values(), key=lambda v: v[1])[2] == 1_000_000


def test_dau_mau_matches_python_replica(spark):
    rows = _events(spark)
    days: dict = defaultdict(set)
    users: dict = defaultdict(set)
    for r in rows:
        day = r.ts // _NS_PER_DAY
        win = day // MAU_WINDOW_DAYS
        days[(r.event_type, win)].add((day, r.user_id))
        users[(r.event_type, win)].add(r.user_id)
    expected = {}
    for k in days:
        dau_sum = len(days[k])
        n_days = len({d for d, _ in days[k]})
        mau = len(users[k])
        expected[k] = (
            n_days,
            dau_sum,
            mau,
            dau_sum * 1_000_000 // (n_days * mau),
        )
    got = {
        (r.event_type, r.win): (r.n_days, r.dau_sum, r.mau, r.stickiness_ppm)
        for r in q_dau_mau_stickiness(spark, SF_CORRECTNESS).collect()
    }
    assert got == expected
    # Stickiness is a share of the window actives: <= 1e6 ppm.
    assert all(v[3] <= 1_000_000 for v in got.values())
