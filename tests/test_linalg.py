"""The decimal-exact ``embedding_covariance`` registry entry against a
numpy population covariance over the full upper triangle."""

from __future__ import annotations

import numpy as np

from gtfs_realtime_etl_spark.plans.analytics4 import q_embedding_covariance
from tests.conftest import SF_SMOKE as SF


def test_covariance_fast_path_matches_exact_query(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    mat = np.asarray(
        [np.asarray(r["embedding"], dtype=np.float64) for r in emb.collect()]
    )
    n, d = mat.shape
    mu = mat.mean(axis=0)
    expected = mat.T @ mat / n - np.outer(mu, mu)
    exact = {
        (r["i"], r["j"]): r["cov"]
        for r in q_embedding_covariance(spark, SF).collect()
    }
    assert set(exact) == {(i, j) for i in range(1, d + 1) for j in range(i, d + 1)}
    # the exact query rounds to COV_ROUND=8 decimals (half-width 5e-9);
    # allow that plus float-fold error
    for (i, j), v in exact.items():
        ref = expected[i - 1, j - 1]
        assert abs(v - ref) <= 6e-9 + 1e-9 * abs(ref), (i, j)
