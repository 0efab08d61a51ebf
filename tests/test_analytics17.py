"""Semantic invariants of the twenty-first bank (association rules,
Markov transitions, trimmed mean, DiD) — exact pure-Python replicas on
the same data, beyond the oracle-parity hash gate."""

from __future__ import annotations

import math
from collections import defaultdict
from itertools import combinations

from gtfs_realtime_etl_spark.plans.analytics17 import (
    BASKET_CAP,
    MINSUP,
    TRIM_DEN,
    TRIM_NUM,
    q_apriori_triples,
    q_did_estimator,
    q_markov_transitions,
    q_trimmed_mean,
)
from gtfs_realtime_etl_spark.sources.testdata import load_testdata
from tests.conftest import SF_CORRECTNESS


def _events(spark):
    return (
        load_testdata(spark, SF_CORRECTNESS, "events")[0]
        .select("user_id", "event_id", "event_type", "ts", "value")
        .collect()
    )


def _cents(value: float) -> int:
    return int(math.floor(value * 100 + 0.5))


def test_apriori_triples_matches_python_replica(spark):
    li = (
        load_testdata(spark, SF_CORRECTNESS, "lineitem")[0]
        .select("l_orderkey", "l_partkey")
        .collect()
    )
    baskets: dict = defaultdict(set)
    for r in li:
        baskets[r.l_orderkey].add(r.l_partkey)
    n_orders = len(baskets)
    part_n: dict = defaultdict(int)
    for parts in baskets.values():
        for p in parts:
            part_n[p] += 1
    l1 = {p for p, n in part_n.items() if n >= MINSUP}
    tri_n: dict = defaultdict(int)
    for parts in baskets.values():
        kept = sorted(p for p in parts if p in l1)[:BASKET_CAP]
        for a, b, c in combinations(kept, 3):
            tri_n[(a, b, c)] += 1
    expected = {}
    for (a, b, c), nabc in tri_n.items():
        if nabc < MINSUP:
            continue
        na, nb, nc = part_n[a], part_n[b], part_n[c]
        expected[(a, b, c)] = (
            nabc,
            na,
            nb,
            nc,
            n_orders,
            nabc * 1_000_000 // n_orders,
            nabc * n_orders * n_orders * 1_000_000 // (na * nb * nc),
        )
    got = {
        (r.part_a, r.part_b, r.part_c): (
            r.n_abc,
            r.n_a,
            r.n_b,
            r.n_c,
            r.n_orders,
            r.support_ppm,
            r.lift_ppm,
        )
        for r in q_apriori_triples(spark, SF_CORRECTNESS).collect()
    }
    assert got == expected
    # Support monotonicity: a triple can never co-occur more often
    # than any member occurs.
    for (a, b, c), (nabc, na, nb, nc, _, _, _) in got.items():
        assert nabc <= min(na, nb, nc)


def test_markov_transitions_matches_python_replica(spark):
    evs = _events(spark)
    by_user: dict = defaultdict(list)
    for r in evs:
        by_user[r.user_id].append((r.ts, r.event_id, r.event_type))
    trans: dict = defaultdict(int)
    for seq in by_user.values():
        seq.sort()
        for (_, _, a), (_, _, b) in zip(seq, seq[1:]):
            trans[(a, b)] += 1
    n_from: dict = defaultdict(int)
    for (a, _), c in trans.items():
        n_from[a] += c
    expected = {
        (a, b): (c, n_from[a], c * 1_000_000 // n_from[a])
        for (a, b), c in trans.items()
    }
    got = {
        (r.prev_type, r.next_type): (r.n_trans, r.n_from, r.p_ppm)
        for r in q_markov_transitions(spark, SF_CORRECTNESS).collect()
    }
    assert got == expected and len(got) > 0
    # Row-stochastic (up to ppm truncation): each row's p_ppm sums to
    # within |row| of 1e6.
    rows: dict = defaultdict(lambda: [0, 0])
    for (a, _), (_, _, p) in got.items():
        rows[a][0] += p
        rows[a][1] += 1
    for a, (s, cnt) in rows.items():
        assert 1_000_000 - cnt <= s <= 1_000_000


def test_trimmed_mean_matches_python_replica(spark):
    evs = _events(spark)
    vals: dict = defaultdict(list)
    for r in evs:
        vals[r.event_type].append(_cents(r.value))
    expected = {}
    for et, xs in vals.items():
        xs.sort()
        n = len(xs)
        k = n * TRIM_NUM // TRIM_DEN
        kept = xs[k : n - k]
        s = sum(kept)
        expected[et] = (
            n,
            len(kept),
            s,
            s * 1_000_000 // len(kept) if kept else None,
        )
    got = {
        r.event_type: (
            r.n,
            r.n_kept,
            r.trimmed_sum_cents,
            r.trimmed_mean_micro,
        )
        for r in q_trimmed_mean(spark, SF_CORRECTNESS).collect()
    }
    assert got == expected and len(got) > 0
    # Trimming is inside the hull: min(kept) <= mean <= max(kept).
    for et, (n, nk, s, mm) in got.items():
        assert nk == n - 2 * (n * TRIM_NUM // TRIM_DEN)


def test_did_estimator_matches_python_replica(spark):
    evs = _events(spark)
    tmin = min(r.ts for r in evs)
    tmax = max(r.ts for r in evs)
    cut = (tmin + tmax) // 2
    cells: dict = defaultdict(lambda: [0, 0])
    for r in evs:
        key = (r.user_id % 2, 1 if r.ts >= cut else 0)
        cells[key][0] += 1
        cells[key][1] += _cents(r.value)
    m = {
        key: s * 1_000_000 // n for key, (n, s) in cells.items()
    }
    did = (m[(1, 1)] - m[(1, 0)]) - (m[(0, 1)] - m[(0, 0)])
    row = q_did_estimator(spark, SF_CORRECTNESS).collect()[0]
    assert (
        row.ctrl_pre_micro,
        row.ctrl_post_micro,
        row.treat_pre_micro,
        row.treat_post_micro,
        row.did_micro,
        row.n_total,
    ) == (
        m[(0, 0)],
        m[(0, 1)],
        m[(1, 0)],
        m[(1, 1)],
        did,
        len(evs),
    )
