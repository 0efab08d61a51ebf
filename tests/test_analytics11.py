"""Semantic invariants of the fifteenth bank (graph BFS, event
trigrams, calibration bins, hazard table, NDCG) beyond the
oracle-parity hash gate — each result is checked against an
independent pure-Python recomputation on the same data."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.plans.analytics11 import (
    BFS_ROUNDS,
    BFS_SEED_MOD,
    CAL_BIN_WIDTH,
    TRI_TOPK,
    q_calibration_bins,
    q_event_ngrams,
    q_graph_bfs,
    q_hazard_table,
    q_ndcg_report,
)
from gtfs_realtime_etl_spark.plans.graph import _knn_edges
from gtfs_realtime_etl_spark.sources.testdata import load_testdata
from tests.conftest import SF_CORRECTNESS


def test_graph_bfs_matches_python_bfs(spark):
    """The level histogram must equal a driver-side BFS over the same
    (engine-built) edge set, and the per-level counts must partition
    the node universe."""
    emb = load_testdata(spark, SF_CORRECTNESS, "embeddings")[0]
    edges = _knn_edges(emb).collect()
    adj: dict[int, set[int]] = {}
    for e in edges:
        adj.setdefault(e.s, set()).add(e.d)
        adj.setdefault(e.d, set()).add(e.s)
    nodes = {r.vec_id for r in emb.select("vec_id").distinct().collect()}
    dist = {n: 0 for n in nodes if n % BFS_SEED_MOD == 0}
    frontier = set(dist)
    for r in range(1, BFS_ROUNDS + 1):
        nxt = set()
        for u in frontier:
            nxt |= adj.get(u, set())
        nxt -= set(dist)
        for v in nxt:
            dist[v] = r
        frontier = nxt
    want = {}
    for d in dist.values():
        want[d] = want.get(d, 0) + 1
    unreachable = len(nodes) - len(dist)
    if unreachable:
        want[-1] = unreachable
    rows = q_graph_bfs(spark, SF_CORRECTNESS).collect()
    got = {r.dist: r.n_nodes for r in rows}
    assert got == want
    assert sum(got.values()) == len(nodes)


def test_event_trigrams_counts(spark):
    """Trigram totals must equal Σ_user max(len_u − 2, 0), and the
    returned page must be the lexicographically-tiebroken top-25."""
    rows = q_event_ngrams(spark, SF_CORRECTNESS).collect()
    assert len(rows) <= TRI_TOPK
    keys = [(-r.cnt, r.trigram) for r in rows]
    assert keys == sorted(keys)
    ev = load_testdata(spark, SF_CORRECTNESS, "events")[0]
    per_user = ev.groupBy("user_id").count().collect()
    total_tris = sum(max(r["count"] - 2, 0) for r in per_user)
    # the top page can't exceed the corpus trigram total
    assert sum(r.cnt for r in rows) <= total_tris
    assert all(r.trigram.count(">") == 2 for r in rows)


def test_calibration_bins_partition_and_monotone_means(spark):
    rows = sorted(
        q_calibration_bins(spark, SF_CORRECTNESS).collect(),
        key=lambda r: r.bin,
    )
    li = load_testdata(spark, SF_CORRECTNESS, "lineitem")[0]
    n = li.count()
    n_pos = li.filter(F.col("l_returnflag") == "R").count()
    assert sum(r.n for r in rows) == n
    assert sum(r.pos for r in rows) == n_pos
    base = n_pos * 1_000_000 // n
    for r in rows:
        assert r.base_ppm == base
        assert 0 <= r.pos_ppm <= 1_000_000
        lo = (r.bin * CAL_BIN_WIDTH + 1) * 100
        hi = (r.bin * CAL_BIN_WIDTH + CAL_BIN_WIDTH) * 100
        assert lo <= r.mean_score_centi <= hi
    means = [r.mean_score_centi for r in rows]
    assert means == sorted(means)


def test_hazard_table_risk_set_telescopes(spark):
    rows = sorted(
        q_hazard_table(spark, SF_CORRECTNESS).collect(), key=lambda r: r.delay
    )
    # n_i telescopes: n_{i} = n_{i+1} + d_i, and the first risk set is
    # the full joined row count.
    for a, b in zip(rows, rows[1:]):
        assert a.n_i == b.n_i + a.d_i
        assert a.surviving == b.n_i
    li = load_testdata(spark, SF_CORRECTNESS, "lineitem")[0]
    assert rows[0].n_i == li.count()
    assert rows[-1].n_i == rows[-1].d_i
    for r in rows:
        assert 0 < r.hazard_ppm <= 1_000_000
        assert r.hazard_ppm == r.d_i * 1_000_000 // r.n_i


def test_ndcg_consistency_with_recall_and_log2(spark):
    row = q_ndcg_report(spark, SF_CORRECTNESS).collect()[0]
    assert 0 <= row.n_hits <= row.k
    assert 0 <= row.ndcg_ppm <= 1_000_000
    # idcg must equal the Python-side sum of ⌊1e6/log2(r+1)+0.5⌋ —
    # math.log2 agrees with the portable log2 to ~1e-12, far inside
    # the 0.5 rounding margin for these tiny ranks.
    want_idcg = sum(
        math.floor(1_000_000.0 / math.log2(r + 1) + 0.5)
        for r in range(1, row.k + 1)
    )
    assert row.idcg_micro == want_idcg
    assert row.dcg_micro <= row.idcg_micro
    if row.n_hits == row.k:
        assert row.ndcg_ppm == 1_000_000
