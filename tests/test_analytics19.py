"""Semantic invariants of the twenty-third bank (windowed funnel,
cohort LTV, Markov entropy rate, degree assortativity) — exact
pure-Python replicas on the same data, beyond the oracle-parity hash
gate."""

from __future__ import annotations

import math
from collections import defaultdict
from itertools import combinations

from gtfs_realtime_etl_spark.plans.analytics19 import (
    ASSORT_BASKET_CAP,
    FUNNEL_CAP,
    FUNNEL_STAGES,
    FUNNEL_WINDOW_NS,
    ME_TOTAL_ROW,
    _NS_PER_WEEK,
    q_cohort_ltv,
    q_degree_assortativity,
    q_markov_entropy_rate,
    q_window_funnel,
)
from gtfs_realtime_etl_spark.sources.testdata import load_testdata
from tests.conftest import SF_CORRECTNESS


def _cents(value: float) -> int:
    return int(math.floor(value * 100 + 0.5))


def _lg_micro(n: int) -> int:
    return int(math.floor(math.log2(max(n, 1)) * 1_000_000.0 + 0.5))


def _events(spark):
    return (
        load_testdata(spark, SF_CORRECTNESS, "events")[0]
        .select("user_id", "event_id", "event_type", "ts", "value")
        .collect()
    )


def test_window_funnel_matches_python_replica(spark):
    rows = _events(spark)
    per: dict = defaultdict(lambda: defaultdict(list))
    for r in rows:
        if r.event_type in FUNNEL_STAGES:
            per[r.user_id][r.event_type].append((r.ts, r.event_id))
    hist: dict = defaultdict(int)
    for user, stages in per.items():
        ts = {
            s: [t for t, _ in sorted(stages[s])[:FUNNEL_CAP]]
            for s in FUNNEL_STAGES
        }
        vs, cs, ps = (ts[s] for s in FUNNEL_STAGES)
        lvl3 = any(
            c > v and any(p > c and p - v <= FUNNEL_WINDOW_NS for p in ps)
            for v in vs
            for c in cs
        )
        lvl2 = any(
            c > v and c - v <= FUNNEL_WINDOW_NS for v in vs for c in cs
        )
        level = 3 if lvl3 else 2 if lvl2 else 1 if vs else 0
        hist[level] += 1
    total = sum(hist.values())
    expected = {
        lvl: (n, n * 1_000_000 // total) for lvl, n in hist.items()
    }
    got = {
        r.level: (r.n_users, r.users_ppm)
        for r in q_window_funnel(spark, SF_CORRECTNESS).collect()
    }
    assert got == expected


def test_cohort_ltv_matches_python_replica(spark):
    rows = _events(spark)
    week = {r.event_id: r.ts // _NS_PER_WEEK for r in rows}
    first: dict = {}
    for r in rows:
        w = week[r.event_id]
        if r.user_id not in first or w < first[r.user_id]:
            first[r.user_id] = w
    sizes: dict = defaultdict(int)
    for w in first.values():
        sizes[w] += 1
    cells: dict = defaultdict(int)
    for r in rows:
        cw = first[r.user_id]
        cells[(cw, week[r.event_id] - cw)] += _cents(r.value)
    expected = {}
    for cw in sizes:
        cum = 0
        for off in sorted(o for c, o in cells if c == cw):
            rev = cells[(cw, off)]
            cum += rev
            expected[(cw, off)] = (
                sizes[cw],
                rev,
                cum,
                cum * 1_000_000 // sizes[cw],
            )
    got = {
        (r.cohort_week, r.offset_week): (
            r.n_users,
            r.rev_cents,
            r.cum_cents,
            r.ltv_micro,
        )
        for r in q_cohort_ltv(spark, SF_CORRECTNESS).collect()
    }
    assert got == expected
    # Monotone curve: cum_cents never decreases within a cohort.
    for (cw, off), (_, _, cum, _) in expected.items():
        if (cw, off - 1) in expected:
            assert cum >= expected[(cw, off - 1)][2]


def test_markov_entropy_rate_matches_python_replica(spark):
    rows = _events(spark)
    by_user: dict = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append((r.ts, r.event_id, r.event_type))
    trans: dict = defaultdict(int)
    for xs in by_user.values():
        xs.sort()
        for a, b in zip(xs, xs[1:]):
            trans[(a[2], b[2])] += 1
    per_state: dict = defaultdict(lambda: [0, 0, 0])  # n_from, k, inner
    for (s, _t), n in trans.items():
        per_state[s][0] += n
        per_state[s][1] += 1
        per_state[s][2] += n * _lg_micro(n)
    expected = {}
    for s, (n_from, k, inner) in per_state.items():
        expected[s] = (n_from, k, n_from * _lg_micro(n_from) - inner)
    expected[ME_TOTAL_ROW] = (
        sum(v[0] for v in expected.values()),
        sum(v[1] for v in expected.values()),
        sum(v[2] for v in expected.values()),
    )
    got = {
        r.prev_type: (r.n_from, r.k_next, r.h_term_micro)
        for r in q_markov_entropy_rate(spark, SF_CORRECTNESS).collect()
    }
    assert got == expected
    # Entropy terms are non-negative (concavity of x*lg x sums).
    assert all(v[2] >= 0 for v in got.values())


def test_degree_assortativity_matches_python_replica(spark):
    li = (
        load_testdata(spark, SF_CORRECTNESS, "lineitem")[0]
        .select("l_orderkey", "l_partkey")
        .collect()
    )
    baskets: dict = defaultdict(set)
    for r in li:
        baskets[r.l_orderkey].add(r.l_partkey)
    edges = set()
    for parts in baskets.values():
        kept = sorted(parts)[:ASSORT_BASKET_CAP]
        for a, b in combinations(kept, 2):
            edges.add((a, b))
    deg: dict = defaultdict(int)
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    m = 2 * len(edges)
    sx = sum(deg[a] + deg[b] for a, b in edges)
    sxy = sum(2 * deg[a] * deg[b] for a, b in edges)
    sxx = sum(deg[a] ** 2 + deg[b] ** 2 for a, b in edges)
    num = m * sxy - sx * sx
    den = m * sxx - sx * sx
    r_ppm = (abs(num) * 1_000_000 // den) * (1 if num >= 0 else -1)
    row = q_degree_assortativity(spark, SF_CORRECTNESS).collect()[0]
    assert (
        row.n_nodes,
        row.n_edges,
        row.m_terms,
        row.sx,
        row.sxy,
        row.sxx,
        row.num,
        row.den,
        row.r_ppm,
    ) == (len(deg), len(edges), m, sx, sxy, sxx, num, den, r_ppm)
    # Assortativity is a correlation: |r| <= 1.
    assert -1_000_000 <= row.r_ppm <= 1_000_000


def test_assortativity_degree_regular_graph_is_null_cross_engine(spark):
    """den = 2E*Sxx - Sx^2 = 0 on a degree-regular graph (round-10
    advisor item): both engines must emit NULL, not diverge (Spark
    decimal div -> NULL silently vs DuckDB // -> div-by-zero error)."""
    import duckdb

    from gtfs_realtime_etl_spark.plans.analytics19 import (
        assortativity_report,
    )

    # Two isolated pairs: every node degree 1 -> den = 0.
    edges = spark.createDataFrame(
        [(1, 2), (3, 4)], schema="u BIGINT, v BIGINT"
    )
    row = assortativity_report(edges).collect()[0]
    assert (row.n_nodes, row.n_edges, row.den) == (4, 2, 0)
    assert row.r_ppm is None
    # Same guard on the DuckDB side of the oracle: a degree-regular
    # edge set through the final SELECT's CASE yields NULL, not error.
    got = duckdb.sql(
        """
        WITH mom(n_edges, sx, sxy, sxx) AS (
          VALUES (CAST(2 AS BIGINT), CAST(4 AS BIGINT),
                  CAST(4 AS HUGEINT), CAST(4 AS HUGEINT))
        )
        SELECT CASE WHEN (2 * CAST(n_edges AS HUGEINT) * sxx
                          - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT))
                     > 0 THEN
                 CAST((2 * CAST(n_edges AS HUGEINT) * sxy
                       - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT))
                      * 1000000
                      // (2 * CAST(n_edges AS HUGEINT) * sxx
                          - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT))
                   AS BIGINT) END AS r_ppm
        FROM mom
        """
    ).fetchone()
    assert got == (None,)
