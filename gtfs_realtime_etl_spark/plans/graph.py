"""Fifth bank of oracle-gated queries: graph centrality over a derived
similarity graph, and the winnowing-fingerprint profile.

``pagerank_knn`` upgrades the iterative-algorithm story from the
rows-only lane to the full hash gate: the oracle UNROLLS the power
iteration into chained CTEs (one per round), so even an iterative
distributed algorithm is cross-engine verified.  Determinism contract:

- the edge set is engine-exact (cosines are the same explicit left
  folds as ``q_embedding_neardup``, rounded to 6 dp; top-k ties break
  on the integer neighbor id);
- every per-edge term (``rank/deg``) is an IEEE division of
  identically-derived operands;
- only the per-node inflow SUM is accumulation-order-dependent
  (~1e-16/round, ~1e-15 after 10 rounds), so ranks are rounded to 8 dp
  on OUTPUT only — 7 orders of magnitude of slack.

``winnow_profile`` registers the winnowing (MOSS) fingerprint family
in the oracle gate.  The synthetic corpus's 30-word vocabulary makes
winnowing PAIR joins degenerate (every doc pair shares fingerprints —
see tests/test_winnow.py), but the per-doc PROFILE (how many shingles,
how many survive winnowing, the fingerprint range) is well-defined at
any vocabulary, integer-exact, and replays the same polynomial window
hashes token for token in DuckDB.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.functions.hashing import (
    sql_shingle_hashes,
    winnow_profile_kernel,
)
from gtfs_realtime_etl_spark.operators.clusters import connected_components
from gtfs_realtime_etl_spark.operators.dedup import (
    MAX_BUCKET,
    jaccard_pairs,
    winnow_candidates,
)
from gtfs_realtime_etl_spark.operators.pagerank import pagerank
from gtfs_realtime_etl_spark.plans.base import COS_DOT, COS_NORM_A, COS_NORM_B
from gtfs_realtime_etl_spark.sources.testdata import load_testdata


# ---------------------------------------------------------------------------
# PageRank over the label-blocked k-NN similarity graph: each vector
# links to its KNN_K most-cosine-similar peers within its label block
# (ties on the rounded cosine break on the neighbor id).  Every node
# has out-degree exactly KNN_K, so the graph has NO dangling nodes and
# the operator runs with dangling="none" — ten shuffle rounds with
# zero driver synchronization.
#
# Scale shape: the pair join is label-blocked (the oracle-checkable
# stand-in for LSH/IVF candidate generation — same call as
# q_embedding_neardup); the top-k is a per-source window over ≤ block
# rows; each power-iteration round is one join + one aggregation on
# the same key domain, so a production caller pre-partitions the edge
# table by source once and every round reuses that exchange.
# ---------------------------------------------------------------------------

KNN_K = 3
PR_ITERATIONS = 10
PR_DAMPING = 0.85


def _half_up_round_6dp(cos: np.ndarray) -> np.ndarray:
    """Bit-exact numpy replica of ``ROUND(cos * 1e6, 0) / 1e6`` on
    DOUBLE, as Spark and the DuckDB oracle (``_KNN_CTES``) compute it.

    Spark's one-arg-scale ROUND at digit 0 is round-half-away-from-zero
    and equals C ``round`` bit-for-bit (the repo's engine-exact
    mult-form discipline — tests/test_no_native_round_on_double.py).
    Every rounding boundary ``n + 0.5`` is exactly representable in
    binary64 and ``|x| < 2^53`` here, so ``|x| - floor(|x|)`` is exact
    and the half test needs no fuzzy ``+ 0.5`` add.  The 1e6 scale
    multiply and final divide are the same IEEE ops the oracle
    performs."""
    x = cos * 1e6
    ax = np.abs(x)
    m = np.floor(ax)
    r = m + (ax - m >= 0.5)
    # A zero result is +0.0 regardless of the input's sign: BigDecimal
    # carries no signed zero, so Spark's ROUND returns +0.0 for tiny
    # negatives (pinned in the parity test).
    return np.where((x < 0) & (r > 0), -r, r) / 1e6


def _knn_topk_block(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-label kNN block kernel: all-pairs cosine + top-k, numpy.

    Bit-identical to the oracle's ``_KNN_CTES`` edge set (pinned by
    the ``pagerank_knn`` oracle check in tests/test_graph_bank.py):
    the dot/norm left folds run the IDENTICAL IEEE add/multiply
    sequence over the dims as the oracle's ``list_reduce`` folds,
    vectorized across the pair matrix; rounding via
    :func:`_half_up_round_6dp`; top-k ordering (cosine DESC, d ASC) via
    a per-source lexsort over the same rounded doubles."""
    empty = pd.DataFrame(
        {"s": pd.Series(dtype="int64"), "d": pd.Series(dtype="int64")}
    )
    # A NULL label never satisfies the oracle's equi-join
    # (NULL = NULL is NULL), so those rows produce no pairs.
    if len(pdf) == 0 or pdf["label"].isnull().any():
        return empty
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    vecs = np.asarray(
        [np.asarray(v, dtype=np.float64) for v in pdf["vec"]], dtype=np.float64
    )
    n, dim = vecs.shape
    # Left folds over the dims: acc_{t+1} = acc_t + x_t * y_t — the
    # exact IEEE sequence of the oracle's list_reduce fold per pair (and
    # of its acc + v*v norm fold per row), vectorized across pairs.
    acc = np.zeros((n, n))
    nsq = np.zeros(n)
    for t in range(dim):
        col = vecs[:, t]
        acc = acc + col[:, None] * col[None, :]
        nsq = nsq + col * col
    norm = np.sqrt(nsq)
    denom = norm[:, None] * norm[None, :]
    cos = np.zeros((n, n))
    np.divide(acc, denom, out=cos, where=denom > 0)
    rounded = _half_up_round_6dp(cos)
    valid = ids[None, :] != ids[:, None]
    out_s: list[np.ndarray] = []
    out_d: list[np.ndarray] = []
    for i in range(n):
        cand = np.flatnonzero(valid[i])
        # Primary key last in lexsort: rounded cosine DESC (negation
        # preserves double ordering; ±0.0 compare equal both engines),
        # ties on the neighbor id ASC — row_number semantics.
        take = cand[np.lexsort((ids[cand], -rounded[i, cand]))][:KNN_K]
        out_s.append(np.full(take.shape[0], ids[i], dtype=np.int64))
        out_d.append(ids[take])
    if not out_s:
        return empty
    return pd.DataFrame(
        {"s": np.concatenate(out_s), "d": np.concatenate(out_d)}
    )


def _knn_edges(embeddings: DataFrame) -> DataFrame:
    """Label-blocked kNN edges via a grouped Arrow kernel.

    Round 12: the Column pair-join form this replaced evaluated one
    interpreted 64-dim HOF fold per ordered pair (~400 k pairs at
    sf0.1) — the shared ~1.4 s floor under all five graph-family
    queries.  The kernel ships only the 2 000 × 64 vectors through
    Arrow (guide §4.2/§8: decide on the small representation), forms
    the pairs in numpy, and emits the identical (s, d) edge set; the
    double cast happens BEFORE the group exchange so the kernel sees
    the exact float→double operands the folds consumed."""
    emb = embeddings.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("vec")
    )
    return emb.groupBy("label").applyInPandas(_knn_topk_block, "s long, d long")


def q_pagerank_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    (embeddings,) = load_testdata(spark, sf_dir, "embeddings")
    ranks = pagerank(
        _knn_edges(embeddings),
        iterations=PR_ITERATIONS,
        damping=PR_DAMPING,
        dangling="none",
    )
    # No global ORDER BY: the output is per-node and the driver's
    # value-hash compare is order-insensitive — a range exchange +
    # full sort would be pure waste at scale.
    return ranks.select("node", (F.round((F.col("rank")) * F.lit(1e8), 0) / F.lit(1e8)).alias("rank"))


# Oracle: the same cosine left-folds as Q_EMBEDDING_NEARDUP_SQL, then
# the power iteration unrolled into PR_ITERATIONS chained CTEs.
#
#: Shared oracle prefix: the engine-exact kNN edge set (emb / pairs /
#: knn CTEs) — consumed by both the PageRank and the triangle-count
#: oracles so the two entries verify against the SAME graph text.
_KNN_CTES = f"""emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings),
pairs AS (
  SELECT a.vec_id AS s, b.vec_id AS d,
         ROUND((CASE WHEN {COS_NORM_A} * {COS_NORM_B} > 0
                    THEN {COS_DOT} / ({COS_NORM_A} * {COS_NORM_B})
                    ELSE 0.0 END) * 1e6, 0) / 1e6 AS cosine
  FROM emb a JOIN emb b ON a.label = b.label AND a.vec_id <> b.vec_id
),
knn AS (
  SELECT s, d FROM (
    SELECT s, d,
           ROW_NUMBER() OVER (PARTITION BY s ORDER BY cosine DESC, d ASC) AS rn
    FROM pairs
  ) WHERE rn <= {KNN_K}
)"""


def _pagerank_knn_sql() -> str:
    rounds = []
    for t in range(1, PR_ITERATIONS + 1):
        prev = f"r{t - 1}"
        rounds.append(
            f"""r{t} AS (
  SELECT n.node,
         (1.0 - {PR_DAMPING}) / (SELECT n FROM nn)
           + {PR_DAMPING} * COALESCE(i.inflow, 0.0) AS rank
  FROM nodes n LEFT JOIN (
    SELECT k.d AS node, SUM(r.rank / g.deg) AS inflow
    FROM {prev} r
    JOIN knn k ON r.node = k.s
    JOIN deg g ON g.node = k.s
    GROUP BY k.d
  ) i ON n.node = i.node
)"""
        )
    chained = ",\n".join(rounds)
    return f"""
WITH {_KNN_CTES},
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT s AS node FROM knn UNION ALL SELECT d AS node FROM knn
  )
),
nn AS (SELECT COUNT(*) AS n FROM nodes),
deg AS (SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM knn GROUP BY s),
r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
{chained}
SELECT node, ROUND((rank) * 1e8, 0) / 1e8 AS rank FROM r{PR_ITERATIONS}
"""


Q_PAGERANK_KNN_SQL = _pagerank_knn_sql()


# ---------------------------------------------------------------------------
# Winnowing fingerprint profile: per doc, the shingle count, how many
# fingerprints the (k=5, w=4) winnow keeps, and the fingerprint value
# range.  All-integer output over the portable polynomial window
# hashes — engine-exact with no rounding anywhere.
# ---------------------------------------------------------------------------

WINNOW_K = 5
WINNOW_W = 4


def q_winnow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fused Arrow kernel: a Column form's nested HOF (a transform
    # whose lambda re-embeds the whole shingle-hash expression) is
    # interpreted row-at-a-time and, in a session without the repo's
    # ICU-off tuning, the collation-aware substring/ascii path turns
    # the O(n·w) window scan into minutes per thousand docs.  The
    # kernel does shingles + stride-view window minima in one numpy
    # pass — pinned bit-identical to a pure-Python reference by
    # tests/test_winnow.py and to the DuckDB oracle below.
    (documents,) = load_testdata(spark, sf_dir, "documents")
    prof = winnow_profile_kernel(WINNOW_K, WINNOW_W)
    return (
        documents.select("doc_id", prof(F.col("text")).alias("p"))
        .select("doc_id", "p.n_shingles", "p.n_fps", "p.fp_min", "p.fp_max")
    )


Q_WINNOW_PROFILE_SQL = f"""
WITH h AS (
  SELECT doc_id, {sql_shingle_hashes('text', WINNOW_K)} AS hs FROM documents
),
w AS (
  SELECT doc_id, hs,
         list_distinct(list_transform(
           range(1, greatest(len(hs) - {WINNOW_W - 1}, 1) + 1),
           i -> list_min(list_slice(hs, i, i + {WINNOW_W - 1}))
         )) AS fps
  FROM h
)
SELECT doc_id,
       CAST(len(hs) AS BIGINT) AS n_shingles,
       CAST(len(fps) AS BIGINT) AS n_fps,
       list_min(fps) AS fp_min,
       list_max(fps) AS fp_max
FROM w
"""


# ---------------------------------------------------------------------------
# Winnowing END-TO-END dedup: candidates → exact-Jaccard verify →
# transitive clusters — the full MOSS funnel as one oracle-gated query.
#
# The synthetic corpus's 30-word vocabulary is degenerate for character
# shingles (every doc pair shares fingerprints), so the query derives a
# CHARACTER-DIVERSE corpus deterministically from doc_id with md5 (hex
# is identical in Spark and DuckDB): docs in the same planted group
# (doc_id // WD_GROUP_SIZE — FIXED-size groups, so the per-group pair
# count is constant and total pairs grow LINEARLY with the corpus, not
# quadratically) share a WD_CORE_CHUNKS·32-char core substring, wrapped
# in per-doc unique head/tail chunks.  Shared substrings → shared
# winnow fingerprints (the MOSS guarantee); cross-group texts share
# nothing, so the funnel must recover exactly the planted groups.
#
# Scale shape: identical skeleton to the MinHash family — explode to
# fingerprints, ONE shuffle on the fingerprint with capped buckets,
# HOF pair explode (no self-join), candidates-only Jaccard verify with
# broadcast hash sets, then iterative min-label clustering.  The
# oracle replays every stage (window hashes token for token, recursive
# CTE for the clustering).
# ---------------------------------------------------------------------------

WD_GROUP_SIZE = 20
WD_CORE_CHUNKS = 6
WD_MIN_SHARED = 5
WD_JACCARD = 0.45


def _winnow_corpus(documents: DataFrame) -> DataFrame:
    g = F.floor(F.col("doc_id") / WD_GROUP_SIZE).cast("long").cast("string")
    d = F.col("doc_id").cast("string")
    chunks = [F.md5(F.concat(F.lit("d"), d))]
    chunks += [
        F.md5(F.concat(F.lit(f"g{j}-"), g)) for j in range(WD_CORE_CHUNKS)
    ]
    chunks += [F.md5(F.concat(F.lit("t"), d))]
    return documents.select("doc_id", F.concat(*chunks).alias("text"))


def q_winnow_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    corpus = _winnow_corpus(documents)
    cand = winnow_candidates(
        corpus, shingle_k=WINNOW_K, window=WINNOW_W, min_shared=WD_MIN_SHARED
    )
    verified = jaccard_pairs(
        corpus, cand.select("id_a", "id_b"),
        shingle_k=WINNOW_K, threshold=WD_JACCARD,
    )
    comp = connected_components(
        verified.select(
            F.col("id_a").alias("id_a"), F.col("id_b").alias("id_b")
        )
    )
    return comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("node").alias("max_doc_id"),
    )


def _winnow_dedup_sql() -> str:
    core = " || ".join(
        f"md5('g{j}-' || CAST(doc_id // {WD_GROUP_SIZE} AS VARCHAR))"
        for j in range(WD_CORE_CHUNKS)
    )
    text = (
        f"md5('d' || CAST(doc_id AS VARCHAR)) || {core} || "
        f"md5('t' || CAST(doc_id AS VARCHAR))"
    )
    return f"""
WITH RECURSIVE
corpus AS (SELECT doc_id, {text} AS text FROM documents),
h AS (
  SELECT doc_id, {sql_shingle_hashes('text', WINNOW_K)} AS hs FROM corpus
),
w AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(hs) - {WINNOW_W - 1}, 1) + 1),
           i -> list_min(list_slice(hs, i, i + {WINNOW_W - 1}))
         )) AS fps
  FROM h
),
fp AS (SELECT doc_id, UNNEST(fps) AS fp FROM w),
ok AS (
  SELECT fp FROM fp GROUP BY fp
  HAVING COUNT(*) BETWEEN 2 AND {MAX_BUCKET}
),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM fp a
  JOIN ok ON a.fp = ok.fp
  JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING COUNT(*) >= {WD_MIN_SHARED}
),
sets AS (SELECT doc_id, list_distinct(hs) AS s FROM h),
ver AS (
  SELECT id_a, id_b
  FROM cand
  JOIN sets sa ON sa.doc_id = cand.id_a
  JOIN sets sb ON sb.doc_id = cand.id_b
  WHERE CAST(length(list_intersect(sa.s, sb.s)) AS DOUBLE)
        / CAST(length(list_distinct(list_concat(sa.s, sb.s))) AS DOUBLE)
        >= {WD_JACCARD}
),
edges AS (SELECT id_a AS s, id_b AS d FROM ver
          UNION SELECT id_b AS s, id_a AS d FROM ver),
reach(node, r) AS (
  SELECT s AS node, s AS r FROM edges
  UNION
  SELECT e.s AS node, reach.r AS r FROM edges e JOIN reach ON e.d = reach.node
),
comp AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node)
SELECT cluster_id, COUNT(*) AS n_docs, MAX(node) AS max_doc_id
FROM comp GROUP BY cluster_id
"""


Q_WINNOW_DEDUP_SQL = _winnow_dedup_sql()


# ---------------------------------------------------------------------------
# Triangle counting over the undirected kNN graph — the standard local
# clustering / community-structure probe on a similarity graph.
#
# Scale shape: the DEGREE-ORDERED orientation.  Every undirected edge
# {u, v} is directed from the endpoint that is smaller under the total
# order π = (degree, node id); wedges are enumerated only from each
# triangle's π-minimum vertex.  Out-degree under this orientation is
# O(sqrt(m)) for ANY graph (a classic arboricity bound), so the wedge
# join is Σ outdeg(u)² ≤ m·sqrt(m) worst-case instead of the Σ deg(u)²
# blowup a hub suffers under naive id-ordering — the difference between
# a web-scale graph finishing and one task receiving the hub's d² pairs.
# The closing-edge check is one more equi-join on (v, w).  Three
# shuffles total (degree agg, wedge join, closing join); the oracle
# enumerates triangles by plain id-ordering — orientation changes WHICH
# wedges are built, never how many triangles close.
# ---------------------------------------------------------------------------


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    (embeddings,) = load_testdata(spark, sf_dir, "embeddings")
    # Canonical undirected edges; checkpoint keeps the expensive kNN
    # lineage (pair join + top-k window) from re-running per consumer
    # (degree agg + three join legs read it).
    und = (
        _knn_edges(embeddings)
        .select(F.least("s", "d").alias("lo"), F.greatest("s", "d").alias("hi"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("lo").alias("node"))
        .unionAll(und.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # Orient each edge from the (deg, id)-smaller endpoint; carry the
    # destination's rank pair for the wedge ordering below.
    dl = deg.withColumnsRenamed({"node": "lo", "deg": "dlo"})
    dh = deg.withColumnsRenamed({"node": "hi", "deg": "dhi"})
    lo_first = (F.col("dlo") < F.col("dhi")) | (
        (F.col("dlo") == F.col("dhi")) & (F.col("lo") < F.col("hi"))
    )
    oriented = (
        und.join(dl, "lo")
        .join(dh, "hi")
        .select(
            F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("u"),
            F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("v"),
            F.when(lo_first, F.col("dhi")).otherwise(F.col("dlo")).alias("dv"),
        )
    )
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedge_order = (F.col("e1.dv") < F.col("e2.dv")) | (
        (F.col("e1.dv") == F.col("e2.dv")) & (F.col("e1.v") < F.col("e2.v"))
    )
    tri = (
        e1.join(e2, (F.col("e1.u") == F.col("e2.u")) & wedge_order)
        .select(F.col("e1.u").alias("x"), F.col("e1.v").alias("v"), F.col("e2.v").alias("w"))
        .join(
            oriented.select(F.col("u").alias("v"), F.col("v").alias("w")),
            ["v", "w"],
            "left_semi",
        )
    )
    lab = embeddings.select(F.col("vec_id").alias("node"), "label")
    n_nodes = (
        deg.join(lab, "node")
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    n_edges = (
        und.join(lab.withColumnsRenamed({"node": "lo"}), "lo")
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )
    n_tri = (
        tri.join(lab.withColumnsRenamed({"node": "x"}), "x")
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        n_nodes.join(n_edges, "label")
        .join(n_tri, "label", "left")
        .select(
            "label",
            "n_nodes",
            "n_edges",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
        )
    )


Q_TRIANGLE_COUNT_SQL = f"""
WITH {_KNN_CTES},
und AS (
  SELECT LEAST(s, d) AS lo, GREATEST(s, d) AS hi FROM knn GROUP BY 1, 2
),
tri AS (
  SELECT e1.lo AS x
  FROM und e1
  JOIN und e2 ON e2.lo = e1.lo AND e2.hi > e1.hi
  JOIN und e3 ON e3.lo = e1.hi AND e3.hi = e2.hi
),
lab AS (SELECT vec_id AS node, label FROM emb),
n1 AS (
  SELECT l.label, COUNT(*) AS n_nodes
  FROM (SELECT lo AS node FROM und UNION SELECT hi AS node FROM und) n
  JOIN lab l ON l.node = n.node GROUP BY 1
),
n2 AS (
  SELECT l.label, COUNT(*) AS n_edges
  FROM und JOIN lab l ON l.node = und.lo GROUP BY 1
),
n3 AS (
  SELECT l.label, COUNT(*) AS n_triangles
  FROM tri JOIN lab l ON l.node = tri.x GROUP BY 1
)
SELECT n1.label, n1.n_nodes, n2.n_edges,
       COALESCE(n3.n_triangles, 0) AS n_triangles
FROM n1
JOIN n2 ON n1.label = n2.label
LEFT JOIN n3 ON n1.label = n3.label
"""


QUERIES = {
    "pagerank_knn": q_pagerank_knn,
    "winnow_profile": q_winnow_profile,
    "winnow_dedup": q_winnow_dedup,
    "triangle_count": q_triangle_count,
}

ORACLE_SQL = {
    "pagerank_knn": Q_PAGERANK_KNN_SQL,
    "winnow_profile": Q_WINNOW_PROFILE_SQL,
    "winnow_dedup": Q_WINNOW_DEDUP_SQL,
    "triangle_count": Q_TRIANGLE_COUNT_SQL,
}
