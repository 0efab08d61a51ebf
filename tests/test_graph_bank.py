"""Graph bank (plans/graph.py): k-NN PageRank determinism properties
and the dangling="none" fast path."""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.operators.pagerank import pagerank
from gtfs_realtime_etl_spark.plans.graph import KNN_K, _knn_edges
from gtfs_realtime_etl_spark.plans.queries import QUERIES
from gtfs_realtime_etl_spark.sources.testdata import load_testdata
from tests.conftest import SF_SMOKE


def test_dangling_none_matches_collect_when_no_dangling(spark):
    """On a graph where every node has out-edges the fast path must be
    BIT-identical to the measuring path (the measured mass is 0.0 and
    +0.0 is exact)."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 2), (2, 1), (1, 3)], ["s", "d"]
    )
    a = {
        r["node"]: r["rank"]
        for r in pagerank(edges, iterations=8, dangling="collect").collect()
    }
    b = {
        r["node"]: r["rank"]
        for r in pagerank(edges, iterations=8, dangling="none").collect()
    }
    assert a == b  # exact float equality, not approx


def test_dangling_none_leaks_mass_on_dangling_graph(spark):
    """The documented failure mode: with a real dangling node the fast
    path loses mass (sum < 1) while collect conserves it — the caller's
    guarantee is load-bearing."""
    edges = spark.createDataFrame([(1, 2), (2, 3)], ["s", "d"])  # 3 dangles
    keep = pagerank(edges, iterations=5, dangling="collect")
    drop = pagerank(edges, iterations=5, dangling="none")
    assert keep.agg(F.sum("rank")).collect()[0][0] == pytest.approx(1.0, abs=1e-9)
    assert drop.agg(F.sum("rank")).collect()[0][0] < 0.999


def test_dangling_invalid_mode_raises(spark):
    edges = spark.createDataFrame([(1, 2)], ["s", "d"])
    with pytest.raises(ValueError, match="dangling"):
        pagerank(edges, dangling="maybe")


def test_knn_edges_out_degree_exactly_k(spark):
    """Every node emits exactly KNN_K edges (label blocks are larger
    than K at every sf) — the no-dangling guarantee pagerank_knn relies
    on — and edges stay within label blocks."""
    emb = load_testdata(spark, SF_SMOKE, "embeddings")[0]
    edges = _knn_edges(emb)
    degs = edges.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    assert degs.filter(F.col("deg") != KNN_K).count() == 0
    assert degs.count() == emb.count()
    lab = emb.select("vec_id", "label")
    cross = (
        edges.join(lab.withColumnRenamed("vec_id", "s").withColumnRenamed("label", "sl"), "s")
        .join(lab.withColumnRenamed("vec_id", "d").withColumnRenamed("label", "dl"), "d")
        .filter(F.col("sl") != F.col("dl"))
    )
    assert cross.count() == 0


def test_pagerank_knn_plan_no_cartesian(spark):
    """The candidate join must stay an equi-join on label with a
    residual (never a cartesian), and ranks must sum to ~1."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        QUERIES["pagerank_knn"](spark, SF_SMOKE).explain("formatted")
    p = buf.getvalue()
    assert not re.search(r"CartesianProduct", p)
    df = QUERIES["pagerank_knn"](spark, SF_SMOKE)
    total = df.agg(F.sum("rank")).collect()[0][0]
    assert total == pytest.approx(1.0, abs=1e-6)


def test_half_up_round_6dp_matches_spark_round(spark):
    """Bit-parity pin for the kernel's rounding replica: numpy
    _half_up_round_6dp(c) must equal Spark's ROUND(c * 1e6, 0) / 1e6
    bit-for-bit, including half-boundaries, negatives, signed zeros and
    values one ulp either side of a boundary."""
    import math
    import struct

    import numpy as np

    from gtfs_realtime_etl_spark.plans.graph import _half_up_round_6dp

    vals: list[float] = [0.0, -0.0, 1.0, -1.0, 1e-12, -1e-12]
    for k in (0, 1, 2, 499999, 999998, 999999):
        for sign in (1.0, -1.0):
            c = sign * (k + 0.5) / 1e6  # lands near a half boundary
            vals.extend(
                [c, math.nextafter(c, 2.0), math.nextafter(c, -2.0)]
            )
            vals.append(sign * k / 1e6)
    rng = np.random.default_rng(20260818)
    vals.extend((rng.uniform(-1, 1, 500)).tolist())
    ours = _half_up_round_6dp(np.asarray(vals, dtype=np.float64))
    df = spark.createDataFrame([(v,) for v in vals], "c double")
    theirs = [
        r["r"]
        for r in df.selectExpr(
            "c", "ROUND(c * 1e6, 0) / 1e6 AS r"
        ).collect()
    ]
    for v, a, b in zip(vals, ours.tolist(), theirs):
        assert struct.pack("<d", a) == struct.pack("<d", b), (v, a, b)


def test_knn_edges_kernel_oracle_parity(spark):
    """The grouped Arrow kernel must emit EXACTLY the oracle's kNN edge
    set (``_KNN_CTES``, shared by every kNN-graph oracle) — multiset
    equality at both small SFs — and ``pagerank_knn`` must match its
    oracle end to end (the sampled oracle lane does not reach it)."""
    from collections import Counter

    from gtfs_realtime_etl_spark.plans.graph import _KNN_CTES
    from gtfs_realtime_etl_spark.testing import compare_to_oracle, run_oracle
    from tests.conftest import SF_CORRECTNESS

    for sf_dir in (SF_SMOKE, SF_CORRECTNESS):
        emb = load_testdata(spark, sf_dir, "embeddings")[0]
        kernel = Counter((r.s, r.d) for r in _knn_edges(emb).collect())
        oracle = run_oracle(f"WITH {_KNN_CTES} SELECT s, d FROM knn", sf_dir)
        assert kernel == Counter(zip(oracle["s"], oracle["d"])), sf_dir
        assert kernel, sf_dir
    res = compare_to_oracle(spark, "pagerank_knn", SF_CORRECTNESS)
    assert res.spark_rows > 0
    assert res.ok, (res.notes, res.max_abs_delta)
