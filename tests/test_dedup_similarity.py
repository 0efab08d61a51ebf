"""Dedup + similarity operators: planted near-duplicates must be found;
IVF and LSH recall is checked against an exact numpy cosine top-k."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.operators import clusters, dedup
from gtfs_realtime_etl_spark.operators.clusters import (
    connected_components,
    resolve_duplicates,
)
from gtfs_realtime_etl_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_dedup,
    simhash_dedup,
)
from gtfs_realtime_etl_spark.operators.similarity import (
    _assign_cells_rows,
    _centroid_rows,
    centroids_from_labels,
    ivf_topk,
    lsh_bucketed_topk,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.default_rng(7)
    vocab = "spark shuffle join window agg filter scan column row batch".split()
    base = [" ".join(rng.choice(vocab, 40)) for _ in range(80)]
    rows = [(i, t) for i, t in enumerate(base)]
    # plant exact duplicates of docs 0..4 (ids 100..104)
    for i in range(5):
        rows.append((100 + i, base[i]))
    # plant near-duplicates of docs 10..14: one word changed (ids 200..204)
    for i in range(5):
        words = base[10 + i].split()
        words[5] = "mutated"
        rows.append((200 + i, " ".join(words)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_finds_planted(corpus):
    res = exact_dedup(corpus).toPandas()
    dup_groups = res[res["n_copies"] > 1]
    assert len(dup_groups) == 5
    assert set(dup_groups["survivor_doc_id"]) == {0, 1, 2, 3, 4}


def test_minhash_lsh_finds_near_dups(corpus):
    pairs = minhash_lsh_dedup(corpus, threshold=0.5).toPandas()
    found = set(map(tuple, pairs[["id_a", "id_b"]].values))
    # exact dups are jaccard-1.0 — must all be found
    for i in range(5):
        assert (i, 100 + i) in found
    # near-dups (1 word of 40 changed) — high jaccard, LSH should catch most
    near_hits = sum((10 + i, 200 + i) in found for i in range(5))
    assert near_hits >= 4
    assert (pairs["jaccard"] >= 0.5).all()


def test_simhash_near_dups(corpus):
    pairs = simhash_dedup(corpus, hamming_threshold=3).toPandas()
    ham = {
        (a, b): h for a, b, h in pairs[["id_a", "id_b", "hamming"]].values
    }
    for i in range(5):
        assert ham.get((i, 100 + i)) == 0  # identical text → identical simhash
    # banded-segment LSH is exact for the threshold: nothing above it leaks
    assert (pairs["hamming"] <= 3).all()


def test_simhash_bucket_cap_bounds_blowup(spark, monkeypatch):
    """An adversarial corpus (many identical docs → one giant bucket)
    must not explode quadratically: the per-bucket cap drops oversized
    buckets entirely, so pair output is bounded by construction."""
    rows = [(i, "same text everywhere forever") for i in range(50)]
    rows += [(100 + i, f"unique document number {i} alpha beta") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = simhash_dedup(docs, hamming_threshold=3).toPandas()
    assert ((uncapped["id_a"] < 100) & (uncapped["id_b"] < 100)).sum() == 50 * 49 / 2
    monkeypatch.setattr(dedup, "MAX_BUCKET", 10)
    capped = simhash_dedup(docs, hamming_threshold=3).toPandas()
    # the 50-identical-doc bucket (size 50 > cap 10) contributes nothing
    assert not ((capped["id_a"] < 100) & (capped["id_b"] < 100)).any()


def test_connected_components_chain_and_triangle(spark):
    """A 4-node chain (transitivity across pairs) and a separate
    triangle both collapse to min-id clusters."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)],
        "id_a long, id_b long",
    )
    comp = dict(connected_components(pairs).collect())
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


def test_components_paths_equivalent(spark, monkeypatch):
    """The driver union-find gate path and the distributed propagation
    path produce identical labels (DRIVER_MAX_EDGES=0 forces the
    iterative path on the same graph)."""
    import random

    rng = random.Random(7)
    # random graph: chains, triangles, singles-by-absence, dense blobs
    edges = set()
    for base in (0, 100, 200):
        nodes = [base + i for i in range(20)]
        for _ in range(30):
            a, b = rng.sample(nodes, 2)
            edges.add((min(a, b), max(a, b)))
    pairs = spark.createDataFrame(sorted(edges), "id_a long, id_b long")
    fast = dict(connected_components(pairs).collect())
    monkeypatch.setattr(clusters, "DRIVER_MAX_EDGES", 0)
    slow = dict(connected_components(pairs).collect())
    assert fast == slow and len(fast) > 0


def test_components_nonconvergence_fails_loud(spark, monkeypatch):
    """A chain longer than MAX_ITER hops must raise (silent wrong labels
    are the failure mode at 100 TB), on the distributed path."""
    chain = [(i, i + 1) for i in range(10)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    monkeypatch.setattr(clusters, "DRIVER_MAX_EDGES", 0)
    monkeypatch.setattr(clusters, "MAX_ITER", 2)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs)


def test_resolve_duplicates_keeps_min_id_survivors(spark, corpus):
    pairs = minhash_lsh_dedup(corpus, threshold=0.5)
    survivors = resolve_duplicates(corpus, pairs)
    ids = {r.doc_id for r in survivors.select("doc_id").collect()}
    # exact dups of 0..4 (ids 100..104) lose to their originals
    assert {0, 1, 2, 3, 4} <= ids
    assert not ids & {100, 101, 102, 103, 104}
    # untouched docs pass through: survivors + losers == corpus
    assert len(ids) == corpus.count() - (
        connected_components(pairs)
        .filter("node != cluster_id")
        .count()
    )


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(11)
    # 3 well-separated clusters + noise
    centers = rng.standard_normal((3, 64)) * 5
    rows = []
    for i in range(300):
        c = i % 3
        v = centers[c] + rng.standard_normal(64)
        rows.append((i, c, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")


def _query0(vectors):
    return vectors.filter("vec_id = 0").select(
        F.lit(0).alias("query_id"), F.col("embedding").alias("qvec")
    )


def _exact_topk(vectors, k=10):
    """Exact cosine top-k of vector 0 among the others, in numpy:
    cosine desc, then vec_id asc."""
    pdf = vectors.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy())
    ids = pdf["vec_id"].to_numpy()
    q = mat[ids == 0][0]
    mat, ids = mat[ids != 0], ids[ids != 0]
    cos = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    return ids[np.lexsort((ids, -cos))[:k]].tolist()


def test_brute_force_topk_is_same_cluster(vectors):
    """With every cell probed, ``ivf_topk`` scans the whole corpus, so
    its top-k is the exact one: the numpy reference's ids in order, all
    from the query's own cluster, cosine non-increasing."""
    cents = centroids_from_labels(vectors, dim=64)
    top = ivf_topk(
        vectors.filter("vec_id != 0"), _query0(vectors), cents, k=10, nprobe=3
    ).toPandas()
    assert top["vec_id"].tolist() == _exact_topk(vectors)
    assert (top["label"] == 0).all()  # same cluster as query
    assert top["cosine"].is_monotonic_decreasing


def test_ivf_assignment_and_recall(vectors):
    """Cluster-generated vectors must assign back to their own cluster's
    centroid, and probing nprobe=1 cell must recover the exact top-k
    (the query's neighbors all live in its cell)."""
    cents = centroids_from_labels(vectors, dim=64)
    assert cents.count() == 3
    assigned = _assign_cells_rows(
        vectors, _centroid_rows(cents), "embedding"
    ).toPandas()
    acc = (assigned["cell_id"] == assigned["label"]).mean()
    assert acc > 0.95, f"cell assignment accuracy {acc}"

    others = vectors.filter("vec_id != 0")
    exact = set(_exact_topk(vectors))
    approx = set(
        ivf_topk(others, _query0(vectors), cents, k=10, nprobe=1).toPandas()["vec_id"]
    )
    assert len(exact & approx) / 10 >= 0.9


def test_lsh_recall_vs_brute_force(vectors):
    others = vectors.filter("vec_id != 0")
    exact = set(_exact_topk(vectors))
    approx = set(
        lsh_bucketed_topk(others, _query0(vectors), k=10, n_planes=8, dim=64)
        .toPandas()["vec_id"]
    )
    recall = len(exact & approx) / 10
    assert recall >= 0.7, f"LSH recall too low: {recall}"


def test_decontamination_flags_embedded_benchmark(spark):
    """A train doc embedding a benchmark doc verbatim has containment
    1.0 and is flagged + removed; unrelated docs pass through."""
    from gtfs_realtime_etl_spark.operators.decontam import contamination_pairs

    bench = "the quick brown fox jumps over the lazy dog near the river bank"
    test = spark.createDataFrame([(100, bench)], "doc_id long, text string")
    train = spark.createDataFrame(
        [
            (1, "PREFIX " + bench + " SUFFIX with trailing words"),
            (2, "completely different content about spark shuffles and joins"),
            (3, "another unrelated training document mentioning a fox once"),
        ],
        "doc_id long, text string",
    )
    pairs = contamination_pairs(train, test, shingle_k=8, containment=0.5)
    got = {(r.train_id, r.test_id): r.containment for r in pairs.collect()}
    assert set(got) == {(1, 100)}
    assert got[(1, 100)] == 1.0  # every 8-gram of the benchmark is present


def test_embedding_quantization_roundtrip_bounds(spark, vectors):
    """uint8 scalar quantization: codes in [0, 255], and per-dim
    reconstruction error bounded by half a quantization step."""
    from gtfs_realtime_etl_spark.operators.similarity import (
        dequantize,
        dim_min_max,
        quantize_embeddings,
    )

    mins, maxs = dim_min_max(vectors, dim=64)
    assert len(mins) == len(maxs) == 64
    assert all(m < x for m, x in zip(mins, maxs))

    q = quantize_embeddings(vectors, mins, maxs)
    rows = (
        q.withColumn("recon", dequantize(F.col("qvec"), mins, maxs))
        .select("embedding", "qvec", "recon")
        .collect()
    )
    assert rows
    for r in rows:
        assert all(0 <= v <= 255 for v in r.qvec)
        for i, (x, y) in enumerate(zip(r.embedding, r.recon)):
            half_step = (maxs[i] - mins[i]) / 255.0 / 2.0
            assert abs(x - y) <= half_step + 1e-12, (i, x, y)


def test_pq_full_codebook_reduces_to_exact_l2(spark):
    """PQ identity property: when the codebook contains EVERY corpus
    vector's subvectors, each vector encodes to itself (all subspace
    distances 0, ties impossible for distinct subvectors) and the ADC
    distance IS the exact squared L2 to the query — so the PQ ranking
    must equal the exact ranking bit-for-bit.  k covers the whole
    corpus, so every vector's ADC distance is checked."""
    from gtfs_realtime_etl_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebook_from_ids,
    )

    rng = np.random.default_rng(7)
    rows = [
        (i, i % 2, [float(x) for x in rng.standard_normal(16)]) for i in range(13)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    corpus = df.filter("vec_id != 0")
    codebook = pq_codebook_from_ids(corpus, list(range(1, 13)), n_subspaces=4)

    q = df.filter("vec_id = 0").select(
        F.lit(0).alias("query_id"), F.col("embedding").alias("qvec")
    )
    got = pq_adc_topk(corpus, q, codebook, k=12).toPandas()
    qv = np.array(rows[0][2])
    exact = sorted(
        ((float(((np.array(v) - qv) ** 2).sum()), i) for i, _, v in rows[1:]),
    )
    assert len(got) == len(exact) == 12
    assert list(got["vec_id"]) == [i for _, i in exact]
    assert np.allclose(sorted(got["adc_dist"]), [d for d, _ in exact], atol=1e-9)


def test_pq_adc_partitioning_invariant(vectors):
    """The PQ ranking is a pure projection + top-k: any partition layout
    must give the identical result rows."""
    from gtfs_realtime_etl_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebook_from_ids,
    )

    corpus = vectors.filter("vec_id != 0")
    codebook = pq_codebook_from_ids(corpus, list(range(1, 17)), n_subspaces=8)
    q = vectors.filter("vec_id = 0").select(
        F.lit(0).alias("query_id"), F.col("embedding").alias("qvec")
    )
    a = pq_adc_topk(corpus, q, codebook, k=10).toPandas()
    b = pq_adc_topk(corpus.repartition(7), q, codebook, k=10).toPandas()
    assert list(a["vec_id"]) == list(b["vec_id"])
    assert list(a["adc_dist"]) == list(b["adc_dist"])
    # coarse quantizer on clustered data: most ADC top-k should share
    # the query's cluster label
    assert (a["label"] == 0).mean() >= 0.7
