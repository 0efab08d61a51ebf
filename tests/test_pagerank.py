"""PageRank vs an independent numpy power iteration on the same graph."""

from __future__ import annotations

import random

import numpy as np
import pytest

from gtfs_realtime_etl_spark.operators.pagerank import pagerank


def _numpy_pagerank(edges, iterations=15, d=0.85):
    """Reference power iteration over exactly the nodes present in the
    edge list (matching the operator's node universe)."""
    nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out_deg = np.zeros(n)
    for s, _ in edges:
        out_deg[idx[s]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        inflow = np.zeros(n)
        for s, t in edges:
            inflow[idx[t]] += r[idx[s]] / out_deg[idx[s]]
        dangling = r[out_deg == 0].sum()
        r = (1 - d) / n + d * (inflow + dangling / n)
    return {v: r[idx[v]] for v in nodes}


def _graph(seed=5, n=60, m=300):
    rng = random.Random(seed)
    edges = {(rng.randrange(n), rng.randrange(n)) for _ in range(m)}
    # No self-loops; strip all out-edges from a few ids so the dangling
    # redistribution path is genuinely exercised.
    return [(s, t) for s, t in edges if s != t and s not in (0, 1, 2)]


def test_pagerank_matches_numpy(spark):
    edges = _graph()
    df = spark.createDataFrame(edges, ["s", "d"])
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=15).collect()}
    expect = _numpy_pagerank(edges)
    assert set(got) == set(expect) and got
    for node, rank in got.items():
        assert abs(rank - expect[node]) < 1e-9, (node, rank, expect[node])


def test_pagerank_conserves_mass(spark):
    edges = _graph(seed=9)
    df = spark.createDataFrame(edges, ["s", "d"])
    total = pagerank(df, iterations=10).groupBy().sum("rank").collect()[0][0]
    assert total == pytest.approx(1.0, abs=1e-9)


def test_pagerank_star_graph_ranks_center_highest(spark):
    edges = [(i, 99) for i in range(1, 20)]
    df = spark.createDataFrame(edges, ["s", "d"])
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=20).collect()}
    assert got[99] == max(got.values())
    assert got[99] > 10 * got[1]
