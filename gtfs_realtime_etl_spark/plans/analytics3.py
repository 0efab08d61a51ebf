"""Sixth bank of oracle-gated queries: corpus-level novelty, LM-style
scoring, and embedding-cluster quality — the remaining measurement
primitives of a training-data pipeline.

- ``ngram_novelty``: per-document share of word-3-grams whose FIRST
  corpus occurrence (min doc_id) is the document itself — the
  "how much of this doc is new text" curve that drives dedup-aware
  sampling.  One shuffle on the gram, reused by the join back.
- ``bigram_lm_score``: per-document total log2 probability under an
  add-one-smoothed bigram LM trained on the corpus itself — the
  classic perplexity-proxy quality signal (avg = sum_log2p/n_bigrams;
  high = fluent/common, very low = noise).  log2 comes from the
  portable integer-log2 (functions/stats.py — engine-native log2
  differs in the last ulp and flips 12-dp rounding), and the weighted
  sum is decimal-exact with widths chosen to stay decimal in DuckDB
  (wider products silently fall back to DOUBLE there).
- ``embedding_silhouette``: simplified silhouette of the label
  clustering (a = distance to own label centroid, b = min distance to
  any other centroid, s = (b-a)/max(a,b)), aggregated per label.
  Centroids are broadcast-class (labels × dims) and enter the plan as
  the same 8-dp-rounded values the oracle computes, so distances fold
  identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


from gtfs_realtime_etl_spark.functions.exprs import _d
from gtfs_realtime_etl_spark.functions.stats import (
    portable_int_log2_sql,
    portable_int_log2_staged,
)
from gtfs_realtime_etl_spark.functions.text import tokens
from gtfs_realtime_etl_spark.operators.kmeans import kmeans_assignments, kmeans_fit
from gtfs_realtime_etl_spark.plans.base import SQL_TOKS
from gtfs_realtime_etl_spark.sources.testdata import load_testdata


# ---------------------------------------------------------------------------
# n-gram novelty
# ---------------------------------------------------------------------------

NOVELTY_N = 3


def _word_ngrams(toks: Column, n: int) -> Column:
    """Space-joined word n-grams (array<string>); empty when < n tokens."""
    count = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    idx = F.sequence(F.lit(1), count)
    return F.when(
        F.size(toks) >= n,
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " ")),
    ).otherwise(F.array().cast("array<string>"))


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    grams = documents.select(
        "doc_id",
        F.explode(F.array_distinct(_word_ngrams(tokens(F.col("text")), NOVELTY_N))).alias(
            "gram"
        ),
    )
    # First owner per gram (ONE shuffle on the gram); the join back is
    # on the same key, so the exchange is reused.
    owners = grams.groupBy("gram").agg(F.min("doc_id").alias("owner"))
    per_doc = (
        grams.join(owners, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("owner") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_novel",
        (F.round((F.col("n_novel").cast("double") / F.col("n_grams").cast("double")) * F.lit(1e6), 0) / F.lit(1e6)).alias("novelty"),
    )


Q_NGRAM_NOVELTY_SQL = f"""
WITH toks AS (SELECT doc_id, {SQL_TOKS} AS t FROM documents),
grams AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(t) >= {NOVELTY_N}
         THEN list_transform(range(1, len(t) - {NOVELTY_N - 1} + 1),
                             i -> array_to_string(list_slice(t, i, i + {NOVELTY_N - 1}), ' '))
         ELSE [] END)) AS gram
  FROM toks
),
owners AS (SELECT gram, MIN(doc_id) AS owner FROM grams GROUP BY gram)
SELECT g.doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN o.owner = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       ROUND((CAST(SUM(CASE WHEN o.owner = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE)) * 1e6, 0) / 1e6 AS novelty
FROM grams g JOIN owners o USING (gram)
GROUP BY g.doc_id
"""


# ---------------------------------------------------------------------------
# bigram LM score
# ---------------------------------------------------------------------------


def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    toks = documents.select("doc_id", tokens(F.col("text")).alias("t"))
    bg = toks.select(
        "doc_id", F.explode(_word_ngrams(F.col("t"), 2)).alias("bigram")
    )
    # Per-doc occurrence counts, then corpus-level model counts — both
    # shuffles key on the bigram / its prefix.
    doc_bg = bg.groupBy("doc_id", "bigram").agg(
        F.count(F.lit(1)).alias("occ")
    )
    model = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("cb"))
    model = model.withColumn(
        "w1", F.split(F.col("bigram"), " ").getItem(0)
    )
    uni = (
        toks.select(F.explode("t").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    vocab = toks.select(F.explode("t").alias("w")).agg(
        F.countDistinct("w").alias("v")
    )
    # Per-distinct-bigram log-prob (add-one smoothing):
    # log2((cb+1)/(cu+V)) = log2(cb+1) - log2(cu+V) via the PORTABLE
    # integer log2 (functions/stats.py) — engine-native log2 differs in
    # the last ulp between Spark and DuckDB, which flipped round-to-12
    # on ~0.1% of 30k bigrams and broke hash parity.  Rounded to 12 dp
    # so the weighted decimal sum below is engine-exact.  STAGED
    # SQL-parsed form (round-12, same conversion as decision_stump):
    # the two Column-Horner instances cost ~0.5 s of py4j plan
    # construction per build and spliced the mantissa subtree 14× each
    # into codegen; bit-parity with the DuckDB emitter is pinned on the
    # 213-value grid in tests/test_functions.py.
    lgd = portable_int_log2_staged(
        model.join(uni, "w1").crossJoin(F.broadcast(vocab)),
        {"lg_cb": "cb + 1", "lg_cuv": "cu + v"},
    )
    scored_model = lgd.select(
        "bigram",
        (F.round((F.col("lg_cb") - F.col("lg_cuv")) * F.lit(1e12), 0) / F.lit(1e12)).alias("logp"),
    )
    # Narrow declared widths: logp fits DECIMAL(18,12) (|logp| < 64)
    # and occ fits DECIMAL(8,0), so the product is DECIMAL(26,12) in
    # BOTH engines.  A wider declaration (e.g. 28,12 × BIGINT) pushes
    # DuckDB past decimal width 38 and it silently falls back to
    # DOUBLE, destroying the exactness this sum exists for.
    per_doc = (
        doc_bg.join(scored_model, "bigram")
        .groupBy("doc_id")
        .agg(
            F.sum("occ").alias("n_bigrams"),
            F.sum(
                F.col("occ").cast("decimal(8,0)")
                * F.col("logp").cast("decimal(18,12)")
            ).alias("_sum"),
        )
    )
    # Output the decimal-exact SUM, not the average: quantized logp
    # sums divided by small counts land EXACTLY on 6-dp half
    # boundaries, where Spark's BigDecimal HALF_UP and DuckDB's
    # double-round (x*1e6 → std::round) disagree.  The sum's decimal
    # digits are identical in both engines, so its double cast is too;
    # consumers derive the average as sum_log2p / n_bigrams.
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        F.col("_sum").cast("double").alias("sum_log2p"),
    )


def _bigram_lm_score_sql() -> str:
    return f"""
WITH toks AS (SELECT doc_id, {SQL_TOKS} AS t FROM documents),
bg AS (
  SELECT doc_id, unnest(
    CASE WHEN len(t) >= 2
         THEN list_transform(range(1, len(t)),
                             i -> array_to_string(list_slice(t, i, i + 1), ' '))
         ELSE [] END) AS bigram
  FROM toks
),
doc_bg AS (SELECT doc_id, bigram, CAST(COUNT(*) AS BIGINT) AS occ
           FROM bg GROUP BY doc_id, bigram),
model AS (SELECT bigram, string_split(bigram, ' ')[1] AS w1,
                 CAST(COUNT(*) AS BIGINT) AS cb
          FROM bg GROUP BY bigram),
uni AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS cu
        FROM (SELECT unnest(t) AS w1 FROM toks) GROUP BY w1),
vocab AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v
          FROM (SELECT unnest(t) AS w FROM toks)),
scored AS (
  SELECT bigram,
         {portable_int_log2_sql("m.cb + 1", "pa")},
         {portable_int_log2_sql("u.cu + vocab.v", "pb")},
         ROUND((pa_lg - pb_lg) * 1e12, 0) / 1e12 AS logp
  FROM model m JOIN uni u USING (w1), vocab
)
SELECT d.doc_id,
       CAST(SUM(d.occ) AS BIGINT) AS n_bigrams,
       CAST(SUM(CAST(d.occ AS DECIMAL(8,0)) * CAST(s.logp AS DECIMAL(18,12)))
            AS DOUBLE) AS sum_log2p
FROM doc_bg d JOIN scored s USING (bigram)
GROUP BY d.doc_id
"""


Q_BIGRAM_LM_SCORE_SQL = _bigram_lm_score_sql()


# ---------------------------------------------------------------------------
# embedding silhouette
# ---------------------------------------------------------------------------

SIL_DECIMALS = 8  # centroid rounding, matches embedding_centroids


def _collect_centroids(embeddings: DataFrame) -> dict[int, list[float]]:
    """labels × dims centroid table, 8-dp-rounded — broadcast-class
    (10×64 here; even 1M clusters × 1k dims is a driver-size table).
    Identical arithmetic to q_embedding_centroids / the oracle CTE."""
    exploded = embeddings.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>"))
    ).select("label", (F.col("pos") + 1).alias("dim"), F.col("col").alias("val"))
    rows = (
        exploded.groupBy("label", "dim")
        .agg(
            (F.round((F.sum(F.col("val").cast("decimal(20,10)")).cast("double")
                / F.count(F.lit(1)).cast("double")) * F.lit(float(10 ** SIL_DECIMALS)), 0) / F.lit(float(10 ** SIL_DECIMALS))).alias("cval")
        )
        .collect()
    )
    out: dict[int, dict[int, float]] = {}
    for r in rows:
        out.setdefault(r.label, {})[r.dim] = r.cval
    return {
        lab: [dims[d] for d in sorted(dims)] for lab, dims in out.items()
    }


def _dist_to(vec_sql: str, centroid: list[float]) -> Column:
    """Euclidean distance to a collected centroid, explicit index-order
    left fold (matches the oracle's list_reduce over list_transform).

    SQL-PARSED (round-12): the Column form built a transform/aggregate
    lambda tree per label one py4j command at a time — ~1.7 s of plan
    construction for the 10-label family (PLAN_AUDIT build column);
    one parsed expression per label is ~10 ms.  The expression TREE is
    the same as before (sequence → transform lambda → aggregate fold →
    sqrt; same seed, same squared-difference lambda, same index-order
    accumulation), with the centroid embedded as D-suffixed repr
    literals (Double.parseDouble — bit-identical to the F.lit doubles
    the old ``lit_double_array`` produced).  A fully UNROLLED chain
    was measured SLOWER here (round-12 probe: 1.7 → 2.9 s median):
    640 unrolled terms, duplicated per consumer by CollapseProject,
    cost more in analysis/codegen than interpreted HOF eval costs on a
    2000-row corpus."""

    carr = "array(" + ", ".join(_d(c) for c in centroid) + ")"
    return F.expr(
        f"sqrt(aggregate(transform(sequence(0, {len(centroid) - 1}), "
        f"i -> (element_at({vec_sql}, i + 1) - element_at({carr}, i + 1)) "
        f"* (element_at({vec_sql}, i + 1) - element_at({carr}, i + 1))), "
        "CAST(0 AS DOUBLE), (acc, x) -> acc + x))"
    )


def q_embedding_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    (embeddings,) = load_testdata(spark, sf_dir, "embeddings")
    centroids = _collect_centroids(embeddings)
    labels = sorted(centroids)
    emb = embeddings.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("vec")
    )
    dists = emb.select(
        "vec_id",
        "label",
        *[
            _dist_to("vec", centroids[lab]).alias(f"d_{lab}")
            for lab in labels
        ],
    )
    own = None
    for lab in labels:
        cond = (F.col("label") == lab, F.col(f"d_{lab}"))
        own = F.when(*cond) if own is None else own.when(*cond)
    other = F.least(
        *[
            F.when(F.col("label") == lab, F.lit(None)).otherwise(
                F.col(f"d_{lab}")
            )
            for lab in labels
        ]
    )
    sil = dists.select(
        "label",
        (F.round(((other - own) / F.greatest(own, other)) * F.lit(1e12), 0) / F.lit(1e12)).alias("s"),
    )
    # Decimal-exact SUM (consumers divide by n_vecs): a quantized sum
    # divided by a small count can land exactly on a rounding half
    # boundary, where engine double-ROUND implementations disagree.
    return sil.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.col("s").cast("decimal(28,12)"))
        .cast("double")
        .alias("sum_silhouette"),
    )


_SIL_FOLD = (
    "sqrt(list_reduce(list_prepend(0.0, list_transform("
    "range(1, len(e.vec) + 1), "
    "i -> (e.vec[i] - c.cvec[i]) * (e.vec[i] - c.cvec[i]))), "
    "(acc, x) -> acc + x))"
)

Q_EMBEDDING_SILHOUETTE_SQL = f"""
WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings),
cells AS (
  SELECT label, pos AS dim,
         ROUND((CAST(SUM(CAST(val AS DECIMAL(20,10))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE)) * 1e{SIL_DECIMALS}, 0) / 1e{SIL_DECIMALS} AS cval
  FROM (SELECT label, unnest(range(1, len(vec) + 1)) AS pos,
               unnest(vec) AS val FROM emb)
  GROUP BY label, pos
),
cents AS (
  SELECT label AS clabel, list(cval ORDER BY dim) AS cvec
  FROM cells GROUP BY label
),
dists AS (
  SELECT e.vec_id, e.label, c.clabel, {_SIL_FOLD} AS d
  FROM emb e CROSS JOIN cents c
),
per_vec AS (
  SELECT vec_id, label,
         MIN(CASE WHEN clabel = label THEN d END) AS a,
         MIN(CASE WHEN clabel <> label THEN d END) AS b
  FROM dists GROUP BY vec_id, label
),
sil AS (
  SELECT label, ROUND(((b - a) / GREATEST(a, b)) * 1e12, 0) / 1e12 AS s FROM per_vec
)
SELECT label, COUNT(*) AS n_vecs,
       CAST(SUM(CAST(s AS DECIMAL(28,12))) AS DOUBLE) AS sum_silhouette
FROM sil GROUP BY label
"""


# ---------------------------------------------------------------------------
# k-means coarse quantizer — the learned-cell path of the IVF family
# (operators/kmeans.py), fit round for round inside the hash gate: the
# oracle UNROLLS Lloyd's iterations into chained CTEs (same promotion
# the pagerank_knn oracle made for power iteration).  Determinism:
# smallest-id init, argmin ties on cell_id, per-round 8-dp centroid
# quantization (drift cannot accumulate), empty cells carry forward.
# ---------------------------------------------------------------------------

KM_K = 8
KM_ITER = 3
KM_SCALE = 8


def q_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    (embeddings,) = load_testdata(spark, sf_dir, "embeddings")
    cents = kmeans_fit(embeddings, k=KM_K, iterations=KM_ITER, scale=KM_SCALE)
    counts = (
        kmeans_assignments(embeddings, cents)
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_members"))
    )
    cent_df = spark.createDataFrame(
        [(c["cell_id"], c["centroid"]) for c in cents],
        "cell_id int, centroid array<double>",
    )
    exploded = cent_df.select(
        "cell_id", F.posexplode("centroid")
    ).select("cell_id", (F.col("pos") + 1).alias("dim"), F.col("col").alias("cval"))
    return exploded.join(F.broadcast(counts), "cell_id", "left").select(
        "cell_id",
        F.coalesce(F.col("n_members"), F.lit(0)).cast("long").alias("n_members"),
        "dim",
        "cval",
    )


_KM_DIST = (
    "list_reduce(list_prepend(0.0, list_transform("
    "range(1, len(e.vec) + 1), "
    "i -> (e.vec[i] - c.centroid[i]) * (e.vec[i] - c.centroid[i]))), "
    "(acc, x) -> acc + x)"
)


def _kmeans_round_sql(t: int) -> str:
    return f"""a{t} AS (
  SELECT vec_id, vec, cell_id FROM (
    SELECT e.vec_id, e.vec, c.cell_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_KM_DIST}, c.cell_id) AS rn
    FROM emb e CROSS JOIN c{t - 1} c
  ) WHERE rn = 1
),
u{t} AS (
  SELECT cell_id, list(cval ORDER BY dim) AS centroid
  FROM (
    SELECT cell_id, dim,
           ROUND((CAST(SUM(CAST(val AS DECIMAL(20,10))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE)) * 1e{KM_SCALE}, 0) / 1e{KM_SCALE} AS cval
    FROM (SELECT cell_id, unnest(range(1, len(vec) + 1)) AS dim,
                 unnest(vec) AS val FROM a{t})
    GROUP BY cell_id, dim
  ) GROUP BY cell_id
),
c{t} AS (
  SELECT p.cell_id, COALESCE(u.centroid, p.centroid) AS centroid
  FROM c{t - 1} p LEFT JOIN u{t} u USING (cell_id)
)"""


def _kmeans_centroids_sql() -> str:
    rounds = ",\n".join(_kmeans_round_sql(t) for t in range(1, KM_ITER + 1))
    final = KM_ITER
    return f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
c0 AS (
  SELECT cell_id, centroid FROM (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell_id,
           vec AS centroid
    FROM emb
  ) WHERE cell_id < {KM_K}
),
{rounds},
afinal AS (
  SELECT vec_id, cell_id FROM (
    SELECT e.vec_id, c.cell_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_KM_DIST}, c.cell_id) AS rn
    FROM emb e CROSS JOIN c{final} c
  ) WHERE rn = 1
),
counts AS (SELECT cell_id, CAST(COUNT(*) AS BIGINT) AS n_members
           FROM afinal GROUP BY cell_id)
SELECT c.cell_id,
       COALESCE(n.n_members, 0) AS n_members,
       dim, cval
FROM (SELECT cell_id, unnest(range(1, len(centroid) + 1)) AS dim,
             unnest(centroid) AS cval FROM c{final}) c
LEFT JOIN counts n USING (cell_id)
"""


Q_KMEANS_CENTROIDS_SQL = _kmeans_centroids_sql()


QUERIES = {
    "ngram_novelty": q_ngram_novelty,
    "bigram_lm_score": q_bigram_lm_score,
    "embedding_silhouette": q_embedding_silhouette,
    "kmeans_centroids": q_kmeans_centroids,
}

ORACLE_SQL = {
    "ngram_novelty": Q_NGRAM_NOVELTY_SQL,
    "bigram_lm_score": Q_BIGRAM_LM_SCORE_SQL,
    "embedding_silhouette": Q_EMBEDDING_SILHOUETTE_SQL,
    "kmeans_centroids": Q_KMEANS_CENTROIDS_SQL,
}
