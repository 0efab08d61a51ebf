"""Semantic invariants of the twenty-second bank (Gini, generalized
Jensen–Shannon drift, Kendall trend, inter-arrival moments) — exact
pure-Python replicas on the same data, beyond the oracle-parity hash
gate."""

from __future__ import annotations

import math
from collections import defaultdict

import duckdb

from gtfs_realtime_etl_spark.plans.analytics18 import (
    JS_TOTAL_ROW,
    KENDALL_K,
    _KH_MOD1,
    _KH_MOD2,
    _KH_MULT,
    q_interarrival_stats,
    q_js_divergence,
    q_kendall_trend,
    q_lorenz_gini,
)
from gtfs_realtime_etl_spark.sources.testdata import load_testdata
from tests.conftest import SF_CORRECTNESS


def _cents(value: float) -> int:
    return int(math.floor(value * 100 + 0.5))


def _events(spark):
    return (
        load_testdata(spark, SF_CORRECTNESS, "events")[0]
        .select("user_id", "event_id", "event_type", "ts", "value")
        .collect()
    )


def _lg_micro(n: int) -> int:
    """Python replica of the portable micro-log2: the Taylor form is
    engine-portable; the replica checks VALUES, so libm log2 plus the
    same floor is adequate (the series is within 1e-15 of true log2,
    far from the 0.5-in-micro rounding boundary for these counts)."""
    return int(math.floor(math.log2(max(n, 1)) * 1_000_000.0 + 0.5))


def test_signed_integer_division_portability():
    """Spark `div` and DuckDB `//` must both truncate toward zero —
    kendall_trend's signed tau_ppm relies on it."""
    got = duckdb.sql(
        "SELECT -7 // 2, 7 // -2, CAST(-7 AS HUGEINT) // CAST(2 AS HUGEINT)"
    ).fetchone()
    assert got == (-3, -3, -3)


def test_spark_signed_div_truncates(spark):
    row = spark.sql(
        "SELECT -7 div 2 AS a, 7 div -2 AS b,"
        " CAST(-7 AS DECIMAL(38,0)) div CAST(2 AS DECIMAL(38,0)) AS c"
    ).collect()[0]
    assert (row.a, row.b, int(row.c)) == (-3, -3, -3)


def test_lorenz_gini_matches_python_replica(spark):
    orders, customer = load_testdata(spark, SF_CORRECTNESS, "orders", "customer")
    orders = orders.select("o_custkey", "o_totalprice").collect()
    segs = {
        r.c_custkey: r.c_mktsegment
        for r in customer.select("c_custkey", "c_mktsegment").collect()
    }
    rev: dict = defaultdict(int)
    for r in orders:
        rev[r.o_custkey] += _cents(r.o_totalprice)
    by_seg: dict = defaultdict(list)
    for ck, cents in rev.items():
        by_seg[segs[ck]].append(cents)
    expected = {}
    for seg, xs in by_seg.items():
        xs.sort()
        n, t = len(xs), sum(xs)
        num = sum((2 * (i + 1) - n - 1) * x for i, x in enumerate(xs))
        expected[seg] = (n, t, num * 1_000_000 // (n * t))
    got = {
        r.segment: (r.n_customers, r.total_cents, r.gini_ppm)
        for r in q_lorenz_gini(spark, SF_CORRECTNESS).collect()
    }
    assert got == expected
    # Gini is a [0, 1) ratio.
    assert all(0 <= g[2] < 1_000_000 for g in got.values())


def test_js_divergence_matches_python_replica(spark):
    rows = _events(spark)
    cut = (min(r.ts for r in rows) + max(r.ts for r in rows)) // 2
    c0: dict = defaultdict(int)
    c1: dict = defaultdict(int)
    for r in rows:
        (c1 if r.ts >= cut else c0)[r.event_type] += 1
    types = sorted(set(c0) | set(c1))

    def term(a: int, b: int) -> int:
        return (
            (a + b) * _lg_micro(a + b)
            - a * _lg_micro(a)
            - b * _lg_micro(b)
        )

    expected = {
        t: (c0[t], c1[t], term(c0[t], c1[t])) for t in types
    }
    n0, n1 = sum(c0.values()), sum(c1.values())
    terms_sum = sum(v[2] for v in expected.values())
    expected[JS_TOTAL_ROW] = (n0, n1, term(n0, n1) - terms_sum)
    got = {
        r.event_type: (r.c0, r.c1, r.term_micro)
        for r in q_js_divergence(spark, SF_CORRECTNESS).collect()
    }
    assert got == expected
    # N*JS >= 0 (Jensen) and bounded by N (JS <= 1 bit).
    njs = got[JS_TOTAL_ROW][2]
    assert 0 <= njs <= (n0 + n1) * 1_000_000


def test_kendall_trend_matches_python_replica(spark):
    rows = _events(spark)
    by_type: dict = defaultdict(list)
    for r in rows:
        h = ((r.event_id % _KH_MOD1) * _KH_MULT) % _KH_MOD2
        by_type[r.event_type].append((h, r.event_id, r.ts, _cents(r.value)))
    expected = {}
    for t, xs in by_type.items():
        xs.sort()
        samp = sorted(
            (ts, eid, cents) for _, eid, ts, cents in xs[:KENDALL_K]
        )
        n = len(samp)
        if n < 2:
            continue
        conc = disc = tie_v = tie_t = 0
        for i in range(n):
            for j in range(i + 1, n):
                if samp[i][0] == samp[j][0]:
                    tie_t += 1
                elif samp[i][2] == samp[j][2]:
                    tie_v += 1
                elif samp[j][2] > samp[i][2]:
                    conc += 1
                else:
                    disc += 1
        n_pairs = n * (n - 1) // 2
        diff = conc - disc
        tau = (
            abs(diff) * 1_000_000 // n_pairs
        ) * (1 if diff >= 0 else -1)
        expected[t] = (n, n_pairs, conc, disc, tie_v, tie_t, tau)
    got = {
        r.event_type: (
            r.n_sample,
            r.n_pairs,
            r.conc,
            r.disc,
            r.tie_value,
            r.tie_time,
            r.tau_ppm,
        )
        for r in q_kendall_trend(spark, SF_CORRECTNESS).collect()
    }
    assert got == expected
    for n, n_pairs, conc, disc, tie_v, tie_t, _ in got.values():
        assert n <= KENDALL_K
        assert conc + disc + tie_v + tie_t == n_pairs


def test_interarrival_stats_matches_python_replica(spark):
    rows = _events(spark)
    by_user: dict = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append((r.ts, r.event_id, r.event_type))
    gaps: dict = defaultdict(list)
    for xs in by_user.values():
        xs.sort()
        for prev, cur in zip(xs, xs[1:]):
            gaps[cur[2]].append((cur[0] - prev[0]) // 1_000_000_000)
    expected = {}
    for t, gs in gaps.items():
        n, s, q = len(gs), sum(gs), sum(g * g for g in gs)
        expected[t] = (
            n,
            s,
            min(gs),
            max(gs),
            s * 1_000_000 // n,
            (n * q - s * s) // (n * n),
            ((n * q - s * s) * 1_000_000 // (s * s)) if s > 0 else None,
        )
    got = {
        r.event_type: (
            r.n_gaps,
            r.sum_gap_s,
            r.min_gap_s,
            r.max_gap_s,
            r.mean_gap_micro,
            r.var_s2,
            r.cv2_ppm,
        )
        for r in q_interarrival_stats(spark, SF_CORRECTNESS).collect()
    }
    assert got == expected
