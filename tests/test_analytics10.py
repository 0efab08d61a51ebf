"""Semantic invariants of the fourteenth bank (ROC AUC, chi-square
independence, Benford digits, autocorrelation, Mahalanobis outliers)
beyond the oracle-parity hash gate — each statistic is checked against
an independent numpy/pure-Python computation on the same data."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.plans.analytics10 import (
    BENFORD_PPM,
    MAHA_TOPK,
    q_auc_score,
    q_autocorrelation,
    q_benford_digits,
    q_chi2_independence,
    q_mahalanobis_outliers,
)
from gtfs_realtime_etl_spark.sources.testdata import load_testdata
from tests.conftest import SF_CORRECTNESS


def _rank_auc(scores: np.ndarray, labels: np.ndarray) -> float:
    """Tie-aware Mann-Whitney AUC via average ranks (independent of
    the query's cumulative-count formulation)."""
    order = np.argsort(scores, kind="mergesort")
    s = scores[order]
    ranks = np.empty(len(s), dtype=float)
    i = 0
    while i < len(s):
        j = i
        while j + 1 < len(s) and s[j + 1] == s[i]:
            j += 1
        ranks[i : j + 1] = (i + j) / 2.0 + 1.0
        i = j + 1
    lab = labels[order]
    p = int(lab.sum())
    n = len(lab) - p
    u = ranks[lab == 1].sum() - p * (p + 1) / 2.0
    return u / (p * n)


def test_auc_matches_rank_formulation(spark):
    rows = q_auc_score(spark, SF_CORRECTNESS).collect()
    li = (
        load_testdata(spark, SF_CORRECTNESS, "lineitem")[0]
        .select("l_linestatus", "l_quantity", "l_returnflag")
        .toPandas()
    )
    assert rows
    for r in rows:
        g = li[li["l_linestatus"] == r.l_linestatus]
        scores = np.floor(g["l_quantity"].to_numpy()).astype(np.int64)
        labels = (g["l_returnflag"] == "R").to_numpy().astype(np.int64)
        assert r.n_pos == labels.sum() and r.n_neg == len(labels) - labels.sum()
        auc = _rank_auc(scores.astype(float), labels)
        # auc_ppm is floor(U2·1e6 / (2PN)) — exact to < 1 ppm.
        assert abs(r.auc_ppm / 1e6 - auc) < 2e-6
        assert 0 <= r.auc_ppm <= 1_000_000
        assert r.u2 == round(2 * auc * r.n_pos * r.n_neg)


def test_chi2_matches_float_computation(spark):
    rows = q_chi2_independence(spark, SF_CORRECTNESS).collect()
    od = (
        load_testdata(spark, SF_CORRECTNESS, "orders")[0]
        .groupBy("o_orderpriority", "o_orderstatus")
        .count()
        .collect()
    )
    obs = {(r.o_orderpriority, r.o_orderstatus): r["count"] for r in od}
    n = sum(obs.values())
    rt: dict[str, int] = {}
    ct: dict[str, int] = {}
    for (p, s), c in obs.items():
        rt[p] = rt.get(p, 0) + c
        ct[s] = ct.get(s, 0) + c
    chi2 = sum(
        (c - rt[p] * ct[s] / n) ** 2 / (rt[p] * ct[s] / n)
        for (p, s), c in obs.items()
    )
    got = rows[0].chi2_micro / 1e6
    # Each cell floors to a micro unit; 15 cells → < 15e-6 quantization.
    assert abs(got - chi2) < 1e-3 + 15e-6 * chi2
    assert len(rows) == len(obs)
    assert sum(r.obs for r in rows) == n
    for r in rows:
        assert r.contrib_micro >= 0
        assert r.chi2_micro == rows[0].chi2_micro


def test_benford_distribution_shape(spark):
    rows = q_benford_digits(spark, SF_CORRECTNESS).collect()
    assert {r.digit for r in rows} <= set(range(1, 10))
    n = rows[0].n_tot
    assert sum(r.cnt for r in rows) == n
    # floor-division ppm shares under-count by < 1 ppm each.
    total_ppm = sum(r.freq_ppm for r in rows)
    assert 1_000_000 - 9 <= total_ppm <= 1_000_000
    for r in rows:
        assert r.benford_ppm == BENFORD_PPM[r.digit]
        assert r.dev_ppm == abs(r.freq_ppm - r.benford_ppm)
        assert r.tvd_ppm == sum(x.dev_ppm for x in rows) // 2
    # independent first-digit recount on the raw table
    od = load_testdata(spark, SF_CORRECTNESS, "orders")[0]
    prices = od.select("o_totalprice").toPandas()["o_totalprice"].to_numpy()
    cents = np.floor(prices * 100 + 0.5).astype(np.int64)
    first = np.array([int(str(c)[0]) for c in cents[cents > 0]])
    want = {d: int((first == d).sum()) for d in set(first)}
    got = {r.digit: r.cnt for r in rows}
    assert got == want


def test_autocorrelation_matches_numpy(spark):
    rows = q_autocorrelation(spark, SF_CORRECTNESS).collect()
    ev = load_testdata(spark, SF_CORRECTNESS, "events")[0]
    daily = (
        ev.select("event_type", F.expr("ts div 86400000000000L").alias("day"))
        .groupBy("event_type", "day")
        .count()
        .orderBy("event_type", "day")
        .collect()
    )
    series: dict[str, list[int]] = {}
    for r in daily:
        series.setdefault(r.event_type, []).append(r["count"])
    assert rows
    for r in rows:
        c = np.array(series[r.event_type], dtype=float)
        assert r.n_pairs == len(c) - r.lag
        x, y = c[: -r.lag], c[r.lag :]
        if x.std() > 0 and y.std() > 0:
            want = np.corrcoef(x, y)[0, 1]
            assert abs(r.r_auto - want) < 1e-5
            assert -1.0 <= r.r_auto <= 1.0


def test_mahalanobis_matches_numpy(spark):
    rows = q_mahalanobis_outliers(spark, SF_CORRECTNESS).collect()
    assert len(rows) == MAHA_TOPK
    d2s = [r.d2_micro for r in rows]
    assert d2s == sorted(d2s, reverse=True)
    assert all(d >= 0 for d in d2s)
    emb = load_testdata(spark, SF_CORRECTNESS, "embeddings")[0]
    pdf = emb.select("vec_id", "embedding").toPandas()
    xq = np.array(
        [
            [math.floor(float(v) * 1e6 + 0.5) for v in vec]
            for vec in pdf["embedding"]
        ],
        dtype=np.int64,
    )
    n = xq.shape[0]
    s = xq.sum(axis=0)
    s2 = (xq.astype(object) ** 2).sum(axis=0)
    d2 = {}
    for vid, row in zip(pdf["vec_id"], xq):
        tot = 0
        for j in range(xq.shape[1]):
            den = int(n) * int(s2[j]) - int(s[j]) * int(s[j])
            if den > 0:
                num = (int(row[j]) * int(n) - int(s[j])) ** 2 * 1_000_000
                tot += num // den
        d2[int(vid)] = tot
    want = sorted(d2.items(), key=lambda kv: (-kv[1], kv[0]))[:MAHA_TOPK]
    got = [(int(r.vec_id), r.d2_micro) for r in rows]
    assert got == want
