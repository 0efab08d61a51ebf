"""Unit tests for operators/semdedup.py and operators/chunking.py:
brute-force reference parity on synthetic data plus edge cases."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.operators.chunking import chunk_documents
from gtfs_realtime_etl_spark.operators.semdedup import semdedup_profile


def _clustered_vectors(seed: int = 7, n_clusters: int = 3, per: int = 12):
    """Vectors in tight clusters around orthogonal-ish anchors: within a
    cluster cosine ~1, across clusters ~0."""
    rng = random.Random(seed)
    dim = 8
    rows = []
    vid = 0
    for c in range(n_clusters):
        anchor = [0.0] * dim
        anchor[c] = 1.0
        anchor[c + 3] = 0.5
        for _ in range(per):
            vec = [a + rng.uniform(-0.01, 0.01) for a in anchor]
            rows.append((vid, [float(x) for x in vec], c))
            vid += 1
    return rows, dim


def _cosine(a, b):
    d = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return d / (na * nb) if na * nb > 0 else 0.0


def _reference_survivors(rows, centroids, tau):
    """Brute-force python replay: assign to nearest centroid, drop any
    vector with a lower-id cell-mate at round(cos, 6) >= tau."""

    def cell_of(vec):
        best = min(
            centroids.items(),
            key=lambda kv: (sum((x - y) ** 2 for x, y in zip(vec, kv[1])), kv[0]),
        )
        return best[0]

    assigned = {vid: cell_of(vec) for vid, vec, _ in rows}
    vec_of = {vid: vec for vid, vec, _ in rows}
    dropped = set()
    for vid, vec, _ in rows:
        for other, ovec, _ in rows:
            if other < vid and assigned[other] == assigned[vid]:
                if round(_cosine(ovec, vec), 6) >= tau:
                    dropped.add(vid)
                    break
    return {vid for vid, _, _ in rows if vid not in dropped}, assigned


def _reference_profile(rows, centroids, tau):
    """``semdedup_profile``'s per-cell report replayed from
    :func:`_reference_survivors`: cell_id -> (n_vecs, n_kept, n_dropped,
    min_kept_id)."""
    survivors, assigned = _reference_survivors(rows, centroids, tau)
    report = {}
    for cell in set(assigned.values()):
        members = [vid for vid, c in assigned.items() if c == cell]
        kept = [vid for vid in members if vid in survivors]
        report[cell] = (
            len(members),
            len(kept),
            len(members) - len(kept),
            min(kept, default=None),
        )
    return report


def _profile(emb, cents, tau):
    return {
        r["cell_id"]: (r["n_vecs"], r["n_kept"], r["n_dropped"], r["min_kept_id"])
        for r in semdedup_profile(emb, cents, threshold=tau).collect()
    }


def test_semdedup_matches_bruteforce(spark):
    from gtfs_realtime_etl_spark.operators.similarity import (
        centroids_from_labels,
    )

    rows, dim = _clustered_vectors()
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    cents_df = centroids_from_labels(emb, dim=dim)
    cents = {r["cell_id"]: list(r["centroid"]) for r in cents_df.collect()}

    got = _profile(emb, cents_df, 0.999)
    assert got == _reference_profile(rows, cents, 0.999)
    # Tight clusters at a high threshold: most of each cluster drops,
    # at least one survivor per cluster remains.
    assert sum(n_kept for _, n_kept, _, _ in got.values()) < len(rows)
    assert 0 in {min_kept for *_, min_kept in got.values()}


def test_semdedup_profile_accounting(spark):
    from gtfs_realtime_etl_spark.operators.similarity import (
        centroids_from_labels,
    )

    rows, dim = _clustered_vectors(seed=11)
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    cents_df = centroids_from_labels(emb, dim=dim)
    prof = semdedup_profile(emb, cents_df, threshold=0.999).collect()
    assert sum(r["n_vecs"] for r in prof) == len(rows)
    for r in prof:
        assert r["n_vecs"] == r["n_kept"] + r["n_dropped"]
        assert r["n_kept"] >= 1  # min-id rule always keeps the smallest
        assert r["min_kept_id"] is not None


def test_semdedup_threshold_one_keeps_everything_distinct(spark):
    from gtfs_realtime_etl_spark.operators.similarity import (
        centroids_from_labels,
    )

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [1.0, 0.0], 0),  # exact duplicate of 0
        (2, [0.0, 1.0], 1),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    cents_df = centroids_from_labels(emb, dim=2)
    cents = {r["cell_id"]: list(r["centroid"]) for r in cents_df.collect()}
    got = _profile(emb, cents_df, 1.0)
    assert got == _reference_profile(rows, cents, 1.0)
    # the exact duplicate drops, the distinct vector stays
    assert sorted(got.values()) == [(1, 1, 0, 2), (2, 1, 1, 0)]


def _py_chunks(toks, chunk, stride):
    n = len(toks)
    if n == 0:
        return []
    last = 0 if n <= chunk else -(-(n - chunk) // stride)
    out = []
    for cid in range(last + 1):
        piece = toks[cid * stride : cid * stride + chunk]
        out.append((cid, " ".join(piece), len(piece)))
    return out


@pytest.mark.parametrize("n_toks", [0, 1, 23, 24, 32, 33, 56, 57, 100])
def test_chunk_documents_matches_reference(spark, n_toks):
    words = [f"w{i}" for i in range(n_toks)]
    df = spark.createDataFrame([(1, " ".join(words))], ["doc_id", "text"])
    got = sorted(
        (r["chunk_id"], r["chunk_text"], r["n_toks"])
        for r in chunk_documents(df, chunk_size=32, stride=24).collect()
    )
    assert got == _py_chunks(words, 32, 24)


def test_chunk_documents_overlap_and_coverage(spark):
    words = [f"t{i}" for i in range(80)]
    df = spark.createDataFrame([(9, " ".join(words))], ["doc_id", "text"])
    chunks = chunk_documents(df, chunk_size=32, stride=24).collect()
    # Every token appears in at least one chunk; consecutive chunks
    # share exactly chunk - stride = 8 tokens.
    seen = set()
    by_id = {r["chunk_id"]: r["chunk_text"].split(" ") for r in chunks}
    for toks in by_id.values():
        seen.update(toks)
    assert seen == set(words)
    for cid in range(len(by_id) - 1):
        overlap = set(by_id[cid]) & set(by_id[cid + 1])
        assert len(overlap) == 8


def test_chunk_documents_rejects_bad_args(spark):
    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_size=0)
    with pytest.raises(ValueError):
        chunk_documents(df, stride=-1)
