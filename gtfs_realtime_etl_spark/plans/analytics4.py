"""Seventh query bank: distributed linear algebra over embedding
columns and a MinHash sketch-accuracy harness.

These extend the LLM-pipeline surface with the numeric groundwork a
training pipeline runs before/while assembling data:

- ``embedding_covariance`` — the (upper-triangle) covariance matrix of
  the embedding distribution: the input to whitening / PCA / drift
  monitoring.  Decimal-accumulated so the result is bit-identical
  across engines and partitionings.
- ``embedding_standardize`` — per-dimension z-scoring (diagonal
  whitening) of the leading dimensions, the feature-scaling transform:
  one tiny per-dim stats aggregate broadcast back over a narrow
  projection.
- ``minhash_jaccard_estimate`` — the accuracy contract of the MinHash
  sketch the dedup pipeline rides on: for every candidate pair, the
  EXACT shingle Jaccard next to the signature estimate and their
  absolute error, plus a boolean tolerance verdict.  Everything —
  including the estimate — is integer/rational arithmetic, so the
  whole report is hash-exact against the DuckDB oracle (the sketch is
  deterministic; this is the rare approximate operator whose oracle is
  exact).

Reference scope note: the reference (smohiudd/gtfs-realtime-etl) has
no linear-algebra or sketch surface; these are driver-mandated
LLM-pipeline extensions (SURVEY.md §7 step 7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.functions.hashing import (
    minhash_text_kernel,
    sql_minhash_sig,
    sql_shingle_hashes,
)
from gtfs_realtime_etl_spark.functions.stats import (
    portable_int_log2_sql,
    portable_int_log2_staged,
)
from gtfs_realtime_etl_spark.functions.text import (
    AZ_LOWER,
    AZ_UPPER,
    char_shingles,
    tokens,
)
from gtfs_realtime_etl_spark.functions.vector import cosine_similarity
from gtfs_realtime_etl_spark.plans.base import SQL_TOKS
from gtfs_realtime_etl_spark.sources.testdata import load_testdata


# ---------------------------------------------------------------------------
# Embedding covariance (upper triangle).
#
# cov(i,j) = S_ij/n − (S_i/n)(S_j/n) with every sum accumulated in
# DECIMAL(30,12) — addition is then exact and associative, so the
# result is independent of partitioning AND engine (the same
# discipline as embedding_centroids).  The per-row outer product is a
# pure projection: posexplode(v) gives (i, x_i), then
# posexplode(slice(v, i, d−i+1)) gives the j ≥ i tail — upper triangle
# only, no join of any kind; the single shuffle is the (i,j) group
# (d(d+1)/2 = 2,080 groups at d=64 — partial aggregation does almost
# all the work map-side).  Per-dim S_i rides a second tiny aggregate
# broadcast back onto the triangle.
#
# Scale shape: the explode multiplies rows ×2,080 but each exploded
# row is 3 numbers wide, and partial agg collapses them within the
# task — network traffic is tasks × 2,080 partials, not rows × 2,080.
# tests/test_embedding_covariance.py checks the triangle against a
# numpy population covariance.
# ---------------------------------------------------------------------------

COV_ROUND = 8
_DEC = "decimal(30,12)"


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    (emb,) = load_testdata(spark, sf_dir, "embeddings")
    e = emb.select(F.col("embedding").cast("array<double>").alias("v"))
    xi = e.select("v", F.posexplode("v").alias("i0", "xi"))
    up = xi.select(
        (F.col("i0") + 1).alias("i"),
        "xi",
        F.posexplode(
            F.slice(F.col("v"), F.col("i0") + 1, F.size("v") - F.col("i0"))
        ).alias("j0", "xj"),
    ).select(
        "i",
        (F.col("i") + F.col("j0")).alias("j"),
        (F.col("xi") * F.col("xj")).alias("prod"),
    )
    tri = up.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("prod").cast(_DEC)).alias("sxy"),
    )
    dims = (
        xi.select((F.col("i0") + 1).alias("d"), "xi")
        .groupBy("d")
        .agg(F.sum(F.col("xi").cast(_DEC)).alias("s"))
    )
    nd = F.col("n").cast("double")
    cov = (
        F.col("sxy").cast("double") / nd
        - (F.col("si").cast("double") / nd) * (F.col("sj").cast("double") / nd)
    )
    return (
        tri.join(
            F.broadcast(dims.select(F.col("d").alias("i"), F.col("s").alias("si"))),
            "i",
        )
        .join(
            F.broadcast(dims.select(F.col("d").alias("j"), F.col("s").alias("sj"))),
            "j",
        )
        .select("i", "j", "n", (F.round((cov) * F.lit(float(10 ** COV_ROUND)), 0) / F.lit(float(10 ** COV_ROUND))).alias("cov"))
    )


Q_EMBEDDING_COVARIANCE_SQL = f"""
WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
x AS (
  SELECT v, pos AS i, v[pos] AS xi
  FROM (SELECT v, unnest(range(1, len(v) + 1)) AS pos FROM e)
),
up AS (
  SELECT i, i + p2 - 1 AS j, xi * v[i + p2 - 1] AS prod
  FROM (SELECT v, i, xi, unnest(range(1, len(v) - i + 2)) AS p2 FROM x)
),
tri AS (
  SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(prod AS DECIMAL(30,12))) AS sxy
  FROM up GROUP BY i, j
),
dims AS (
  SELECT i AS d, SUM(CAST(xi AS DECIMAL(30,12))) AS s
  FROM x GROUP BY i
)
SELECT i, j, n,
       ROUND((CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
             - (CAST(a.s AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(b.s AS DOUBLE) / CAST(n AS DOUBLE))) * 1e{COV_ROUND}, 0) / 1e{COV_ROUND} AS cov
FROM tri
JOIN dims a ON a.d = tri.i
JOIN dims b ON b.d = tri.j
"""


# ---------------------------------------------------------------------------
# Per-dimension standardization (diagonal whitening) of the leading
# STD_DIMS dimensions: z = (x − μ_d)/σ_d with μ, σ from decimal-exact
# sums (sample stddev, matching the engine convention everywhere else).
# One narrow slice+explode projection, one 8-group aggregate broadcast
# back — the plan a 100 TB feature-scaling pass wants (the stats side
# is O(d), the data side never shuffles).
# ---------------------------------------------------------------------------

STD_DIMS = 8
STD_ROUND = 6


def q_embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    (emb,) = load_testdata(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        F.posexplode(
            F.slice(F.col("embedding").cast("array<double>"), 1, STD_DIMS)
        ).alias("d0", "x"),
    ).select("vec_id", (F.col("d0") + 1).alias("dim"), "x")
    stats = x.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(_DEC)).alias("s"),
        F.sum((F.col("x") * F.col("x")).cast(_DEC)).alias("s2"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("s").cast("double") / nd
    var = (
        F.col("s2").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / nd
    ) / (nd - F.lit(1.0))
    stats = stats.select(
        "dim", mean.alias("mu"), F.sqrt(var).alias("sigma")
    ).where(F.col("sigma") > 0)
    return (
        x.join(F.broadcast(stats), "dim")
        .select(
            "vec_id",
            "dim",
            (F.round(((F.col("x") - F.col("mu")) / F.col("sigma")) * F.lit(float(10 ** STD_ROUND)), 0) / F.lit(float(10 ** STD_ROUND))).alias(
                "z"
            ),
        )
    )


Q_EMBEDDING_STANDARDIZE_SQL = f"""
WITH x AS (
  SELECT vec_id, pos AS dim, v[pos] AS x
  FROM (SELECT vec_id, embedding::DOUBLE[] AS v,
               unnest(range(1, {STD_DIMS} + 1)) AS pos
        FROM embeddings)
),
stats AS (
  SELECT dim,
         CAST(SUM(CAST(x AS DECIMAL(30,12))) AS DOUBLE) AS s,
         CAST(SUM(CAST(x * x AS DECIMAL(30,12))) AS DOUBLE) AS s2,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM x GROUP BY dim
),
ms AS (
  SELECT dim, s / n AS mu, sqrt((s2 - s * s / n) / (n - 1.0)) AS sigma
  FROM stats
)
SELECT vec_id, x.dim, ROUND(((x - mu) / sigma) * 1e{STD_ROUND}, 0) / 1e{STD_ROUND} AS z
FROM x JOIN ms ON x.dim = ms.dim
WHERE sigma > 0
"""


# ---------------------------------------------------------------------------
# MinHash sketch accuracy — exact oracle for an approximate operator.
#
# Candidate pairs use the same (source, length-bucket, ±20 chars) equi
# bucketing as dedup_ngram_jaccard (one hash shuffle, quadratic only
# within tiny buckets).  Per pair:
#   jaccard   exact |A∩B|/|A∪B| over distinct 5-char shingles
#   est       (# agreeing signature slots)/P — the MinHash estimate
#   abs_err   |est − jaccard|
#   within_tol  abs_err ≤ MJE_TOL
# The signature is the SAME affine-permutation construction the dedup
# pipeline uses (functions/hashing.py: Arrow kernel Spark-side, integer
# SQL oracle-side, bit-pinned against each other), so est is
# deterministic integer arithmetic — every column hash-matches.
# MJE_TOL = 0.30 ≈ 3.8σ of the P=64 estimator's worst-case binomial
# std (√(J(1−J)/64) ≤ 0.0625); observed max error on the synthetic
# corpus is far lower, and determinism means the verdict column cannot
# flake.
# ---------------------------------------------------------------------------

MJE_NUM_HASHES = 64
MJE_SHINGLE_K = 5
MJE_LEN_BUCKET = 32
MJE_TOL = 0.30


def q_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    kern = minhash_text_kernel(MJE_NUM_HASHES, MJE_SHINGLE_K)
    n_tasks = spark.sparkContext.defaultParallelism
    folded = documents.select(
        "doc_id",
        "source",
        "n_chars",
        F.expr(f"n_chars div {MJE_LEN_BUCKET}").alias("len_bucket"),
        F.translate(F.col("text"), AZ_UPPER, AZ_LOWER).alias("_t"),
        kern(F.col("text")).alias("sig"),
    ).repartition(n_tasks, "source", "len_bucket")
    docs = folded.select(
        "doc_id",
        "source",
        "n_chars",
        "len_bucket",
        "sig",
        F.array_distinct(
            char_shingles(F.col("_t"), MJE_SHINGLE_K, prefolded=True)
        ).alias("shingles"),
    )
    a, b = docs.alias("a"), docs.alias("b")
    pairs = a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.col("a.len_bucket") == F.col("b.len_bucket"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= 20),
    )
    inter = F.size(F.array_intersect(F.col("a.shingles"), F.col("b.shingles")))
    union = F.size(F.array_union(F.col("a.shingles"), F.col("b.shingles")))
    jac = inter.cast("double") / union.cast("double")
    matches = F.aggregate(
        F.zip_with(
            F.col("a.sig"),
            F.col("b.sig"),
            lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    est = matches.cast("double") / F.lit(float(MJE_NUM_HASHES))
    abs_err = (F.round((F.abs(est - jac)) * F.lit(1e6), 0) / F.lit(1e6))
    return pairs.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        (F.round((jac) * F.lit(1e6), 0) / F.lit(1e6)).alias("jaccard"),
        (F.round((est) * F.lit(1e6), 0) / F.lit(1e6)).alias("est"),
        abs_err.alias("abs_err"),
        (abs_err <= F.lit(MJE_TOL)).alias("within_tol"),
    )


def _mje_sql() -> str:
    sig = sql_minhash_sig(
        sql_shingle_hashes("text", MJE_SHINGLE_K), MJE_NUM_HASHES
    )
    return f"""
WITH docs AS (
  SELECT doc_id, source, n_chars, n_chars // {MJE_LEN_BUCKET} AS len_bucket,
         {sig} AS sig,
         list_distinct(list_transform(
           range(1, GREATEST(length(text) - {MJE_SHINGLE_K - 1}, 1) + 1),
           i -> substr(translate(text, '{AZ_UPPER}', '{AZ_LOWER}'), i, {MJE_SHINGLE_K}))) AS shingles
  FROM documents
)
SELECT doc_a, doc_b, jaccard, est, abs_err, abs_err <= {MJE_TOL} AS within_tol
FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         ROUND((CAST(length(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
               / CAST(length(list_distinct(list_concat(a.shingles, b.shingles)))
                      AS DOUBLE)) * 1e6, 0) / 1e6 AS jaccard,
         ROUND((CAST(length(list_filter(range(1, {MJE_NUM_HASHES} + 1),
                                       idx -> a.sig[idx] = b.sig[idx]))
                    AS DOUBLE) / {float(MJE_NUM_HASHES)}) * 1e6, 0) / 1e6 AS est,
         ROUND((ABS(CAST(length(list_filter(range(1, {MJE_NUM_HASHES} + 1),
                                           idx -> a.sig[idx] = b.sig[idx]))
                        AS DOUBLE) / {float(MJE_NUM_HASHES)}
                   - CAST(length(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                     / CAST(length(list_distinct(list_concat(a.shingles, b.shingles)))
                            AS DOUBLE))) * 1e6, 0) / 1e6 AS abs_err
  FROM docs a JOIN docs b
    ON a.source = b.source AND a.len_bucket = b.len_bucket
   AND a.doc_id < b.doc_id AND ABS(a.n_chars - b.n_chars) <= 20
)
"""


Q_MINHASH_JACCARD_ESTIMATE_SQL = _mje_sql()


# ---------------------------------------------------------------------------
# Quantile-sketch accuracy profile — third member of the
# sketch-accuracy family (HLL: approx_distinct_profile, MinHash:
# minhash_jaccard_estimate).  Per event_type: the EXACT interpolated
# percentiles (both engines use the same (n−1)p linear interpolation —
# verified bit-identical) ride the hash gate, and the
# Greenwald-Khanna ``percentile_approx`` estimates are checked against
# an exact-percentile BAND: GK guarantees rank error ≤ n/accuracy, so
# with accuracy=1000 the estimate at p must lie within the exact
# quantiles at p ± 2/1000 (2× the bound, engine-deterministic — the
# boolean cannot flake).  At 100 TB the sketch is the one you run: one
# pass, bounded state, mergeable partials; the exact twin here is the
# verification harness.
# ---------------------------------------------------------------------------

QPROF_PS = (0.25, 0.50, 0.75, 0.95)
QPROF_ACCURACY = 1000
QPROF_EPS = 2.0 / QPROF_ACCURACY


def q_approx_quantile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    ps = ", ".join(f"{p}D" for p in QPROF_PS)
    lo = ", ".join(f"{max(p - QPROF_EPS, 0.0)}D" for p in QPROF_PS)
    hi = ", ".join(f"{min(p + QPROF_EPS, 1.0)}D" for p in QPROF_PS)
    agg = events.groupBy("event_type").agg(
        F.count("value").alias("n"),
        F.expr(f"percentile(value, array({ps}))").alias("_ex"),
        F.expr(f"percentile(value, array({lo}))").alias("_lo"),
        F.expr(f"percentile(value, array({hi}))").alias("_hi"),
        F.expr(
            f"approx_percentile(value, array({ps}), {QPROF_ACCURACY})"
        ).alias("_ap"),
    )
    cols = [F.col("event_type"), F.col("n")]
    for idx, p in enumerate(QPROF_PS):
        tag = str(int(p * 100))
        cols.append((F.round((F.element_at("_ex", idx + 1)) * F.lit(1e6), 0) / F.lit(1e6)).alias(f"p{tag}"))
        cols.append(
            (
                (F.element_at("_ap", idx + 1) >= F.element_at("_lo", idx + 1))
                & (F.element_at("_ap", idx + 1) <= F.element_at("_hi", idx + 1))
            ).alias(f"ok{tag}")
        )
    return agg.select(*cols)


def _qprof_sql() -> str:
    sel = ["event_type", "CAST(COUNT(value) AS BIGINT) AS n"]
    for p in QPROF_PS:
        tag = str(int(p * 100))
        sel.append(f"ROUND((quantile_cont(value, {p})) * 1e6, 0) / 1e6 AS p{tag}")
        sel.append(f"TRUE AS ok{tag}")
    return (
        "SELECT " + ",\n       ".join(sel) + "\nFROM events GROUP BY event_type"
    )


Q_APPROX_QUANTILE_PROFILE_SQL = _qprof_sql()


# ---------------------------------------------------------------------------
# Token co-occurrence PMI — the GloVe/word2vec-era association
# statistic a corpus pipeline computes before embedding training, and
# the standard collocation detector for tokenizer/vocab design.
#
#   pmi(x,y) = log2( p(x,y) / (p(x)·p(y)) )
#            = L(c_xy) − L(N_p) − L(c_x) − L(c_y) + 2·L(N_tok)
#
# where every L(·) is the PORTABLE integer log2 (functions/stats.py) —
# all five arguments are integer counts, so the whole score is
# bit-identical across engines (same trick as bigram_lm_score; native
# log2 differs in the last ulp and flips rounded hashes).
#
# Pairs are unordered co-occurrences within a ±(PMI_WINDOW−1) token
# window, generated as a pure projection (zip_with over shifted
# slices — no join); counts are two hash aggregates (pair, unigram);
# the corpus scalars (N_p, N_tok) ride a 1-row broadcast crossJoin
# (allowlisted scalar-BNLJ pattern).  Output is the top PMI_TOPK
# collocations among pairs seen ≥ PMI_MIN_COOC times —
# TakeOrderedAndProject, no full sort.
# ---------------------------------------------------------------------------

PMI_WINDOW = 3
PMI_MIN_COOC = 5
PMI_TOPK = 100


def _window_pair_array(t, window: int):
    arrs = []
    for d in range(1, window):
        n = F.greatest(F.size(t) - d, F.lit(0))
        a = F.slice(t, 1, n)
        b = F.slice(t, 1 + d, n)
        arrs.append(
            F.zip_with(
                a, b,
                lambda x, y: F.concat_ws(" ", F.least(x, y), F.greatest(x, y)),
            )
        )
    return F.flatten(F.array(*arrs))


def q_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    toks = documents.select(tokens(F.col("text")).alias("t"))
    unis = toks.select(F.explode("t").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("c")
    )
    pairs = toks.select(
        F.explode(_window_pair_array(F.col("t"), PMI_WINDOW)).alias("pair")
    )
    pair_counts = (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cxy"))
        .where(F.col("cxy") >= PMI_MIN_COOC)
        .withColumn("x", F.split("pair", " ").getItem(0))
        .withColumn("y", F.split("pair", " ").getItem(1))
    )
    scalars = (
        pairs.agg(F.count(F.lit(1)).alias("np"))
        .crossJoin(
            F.broadcast(
                toks.select(F.explode("t").alias("w")).agg(
                    F.count(F.lit(1)).alias("ntok")
                )
            )
        )
    )
    ux = unis.select(F.col("w").alias("x"), F.col("c").alias("cx"))
    uy = unis.select(F.col("w").alias("y"), F.col("c").alias("cy"))
    # Staged log2 (functions/stats.py::portable_int_log2_staged): five
    # inline instances made plan compile, not data, a visible cost of
    # this query (the round-11 feature_mi finding); arithmetic is
    # bit-identical.
    lgd = portable_int_log2_staged(
        pair_counts.join(ux, "x")
        .join(uy, "y")
        .crossJoin(F.broadcast(scalars)),
        # string inputs → selectExpr fast path (round-12; bit-identical,
        # see the feature_mi call site and the grid pin)
        {
            "l_cxy": "cxy",
            "l_np": "np",
            "l_cx": "cx",
            "l_cy": "cy",
            "l_ntok": "ntok",
        },
    )
    pmi = (
        F.col("l_cxy")
        - F.col("l_np")
        - F.col("l_cx")
        - F.col("l_cy")
        + F.lit(2.0) * F.col("l_ntok")
    )
    return (
        lgd.select(
            "pair", "cxy", "cx", "cy", (F.round((pmi) * F.lit(1e6), 0) / F.lit(1e6)).alias("pmi")
        )
        .orderBy(F.desc("pmi"), F.asc("pair"))
        .limit(PMI_TOPK)
    )


def _token_pmi_sql() -> str:
    pair_arrays = ", ".join(
        f"list_transform(range(1, GREATEST(len(t) - {d}, 0) + 1), "
        f"i -> concat(LEAST(t[i], t[i + {d}]), ' ', GREATEST(t[i], t[i + {d}])))"
        for d in range(1, PMI_WINDOW)
    )
    return f"""
WITH toks AS (SELECT {SQL_TOKS} AS t FROM documents),
unis AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
),
pairs AS (SELECT unnest(list_concat({pair_arrays})) AS pair FROM toks),
pair_counts AS (
  SELECT pair, CAST(COUNT(*) AS BIGINT) AS cxy,
         string_split(pair, ' ')[1] AS x, string_split(pair, ' ')[2] AS y
  FROM pairs GROUP BY pair HAVING COUNT(*) >= {PMI_MIN_COOC}
),
scalars AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS np,
         (SELECT CAST(SUM(len(t)) AS BIGINT) FROM toks) AS ntok
),
logs AS (
  SELECT pair, cxy, cx, cy,
         {portable_int_log2_sql("cxy", "lxy")},
         {portable_int_log2_sql("np", "lnp")},
         {portable_int_log2_sql("cx", "lcx")},
         {portable_int_log2_sql("cy", "lcy")},
         {portable_int_log2_sql("ntok", "lnt")}
  FROM pair_counts
  JOIN (SELECT w AS ux, c AS cx FROM unis) ON ux = x
  JOIN (SELECT w AS uy, c AS cy FROM unis) ON uy = y
  CROSS JOIN scalars
)
SELECT pair, cxy, cx, cy,
       ROUND((lxy_lg - lnp_lg - lcx_lg - lcy_lg + 2.0 * lnt_lg) * 1e6, 0) / 1e6 AS pmi
FROM logs
ORDER BY pmi DESC, pair ASC
LIMIT {PMI_TOPK}
"""


Q_TOKEN_PMI_SQL = _token_pmi_sql()


# ---------------------------------------------------------------------------
# Hard-negative / hard-positive mining — contrastive-pair assembly for
# embedding training: for each anchor in a bounded mining batch, the
# most similar vector with a DIFFERENT label (hard negative — the
# confusable you train against) and the most similar with the SAME
# label excluding self (hard positive).
#
# Plan shape: the anchor batch (HN_ANCHORS rows) broadcasts against
# one corpus scan — the same bounded probe-batch BroadcastNestedLoop
# pattern as ann_cosine_topk, cost HN_ANCHORS · n narrow cosine folds,
# then ONE anchor-keyed aggregate whose argmax rides a struct max
# (cos desc, vec_id asc tie-break) — no window over the pair set, and
# map-side partial agg collapses each task to ≤ HN_ANCHORS rows.  At
# production scale the corpus scan is replaced by ANN candidates
# (ivf_topk / lsh_bucketed_topk) feeding the same argmax — the
# mining batch loop is embarrassingly parallel across batches.
# Cosine is rounded to 6 dp BEFORE the argmax in both engines so the
# tie-break compares identical values.
# ---------------------------------------------------------------------------

HN_ANCHORS = 64


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    (embeddings,) = load_testdata(spark, sf_dir, "embeddings")
    emb = embeddings.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("vec")
    )
    anchors = emb.where(F.col("vec_id") < HN_ANCHORS).select(
        F.col("vec_id").alias("aid"),
        F.col("label").alias("alabel"),
        F.col("vec").alias("avec"),
    )
    cos = (F.round((cosine_similarity(F.col("vec"), F.col("avec"))) * F.lit(1e6), 0) / F.lit(1e6))
    scored = (
        emb.crossJoin(F.broadcast(anchors))
        .where(F.col("vec_id") != F.col("aid"))
        .select("aid", "alabel", "vec_id", "label", cos.alias("cos"))
    )
    # argmax as struct max: (cos, -vec_id) orders by cos desc then
    # vec_id asc on recovery — no per-anchor window sort
    entry = F.struct(F.col("cos").alias("c"), (-F.col("vec_id")).alias("nid"))
    agg = scored.groupBy("aid").agg(
        F.max(F.when(F.col("label") != F.col("alabel"), entry)).alias("neg"),
        F.max(F.when(F.col("label") == F.col("alabel"), entry)).alias("pos"),
    )
    return (
        agg.where(F.col("neg").isNotNull() & F.col("pos").isNotNull())
        .select(
            F.col("aid").alias("anchor_id"),
            (-F.col("neg.nid")).alias("neg_id"),
            F.col("neg.c").alias("neg_cos"),
            (-F.col("pos.nid")).alias("pos_id"),
            F.col("pos.c").alias("pos_cos"),
        )
    )


Q_HARD_NEGATIVES_SQL = f"""
WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings),
anchors AS (
  SELECT vec_id AS aid, label AS alabel, vec AS avec
  FROM emb WHERE vec_id < {HN_ANCHORS}
),
scored AS (
  SELECT aid, alabel, e.vec_id, e.label,
         ROUND((list_cosine_similarity(e.vec, avec)) * 1e6, 0) / 1e6 AS cos
  FROM emb e CROSS JOIN anchors WHERE e.vec_id <> aid
),
rneg AS (
  SELECT aid, vec_id, cos,
         ROW_NUMBER() OVER (PARTITION BY aid ORDER BY cos DESC, vec_id ASC) AS rn
  FROM scored WHERE label <> alabel
),
rpos AS (
  SELECT aid, vec_id, cos,
         ROW_NUMBER() OVER (PARTITION BY aid ORDER BY cos DESC, vec_id ASC) AS rn
  FROM scored WHERE label = alabel
)
SELECT n.aid AS anchor_id,
       n.vec_id AS neg_id, n.cos AS neg_cos,
       p.vec_id AS pos_id, p.cos AS pos_cos
FROM (SELECT * FROM rneg WHERE rn = 1) n
JOIN (SELECT * FROM rpos WHERE rn = 1) p ON n.aid = p.aid
"""


# ---------------------------------------------------------------------------
# Top principal component by power iteration — iterative distributed
# linear algebra with a REPLAYABLE oracle (the same round-for-round
# quantization discipline as kmeans_centroids):
#
#   v_{r+1} = round( C·v_r / ‖C·v_r‖ , PC1_ROUND )
#
# where C is the full covariance matrix mirrored from the
# embedding_covariance triangle.  Every mat-vec component is a
# DECIMAL(38,12)-accumulated sum of products of already-quantized
# doubles — exact and order-free — and each round's normalized vector
# is rounded to PC1_ROUND dp, so cross-engine float drift cannot
# accumulate: DuckDB replays the whole fit via PC1_ITERS unrolled CTE
# rounds and hash-matches the final vector bit-for-bit.
#
# Scale shape: the 100 TB part is the covariance build (one corpus
# scan into the decimal triangle).  The iteration itself runs on the d×d matrix — 64²
# rows — as tiny joins/aggregates; per round one scalar norm rides a
# 1-row broadcast crossJoin (allowlisted).  Output: the unit vector
# (dim, v) plus the Rayleigh-estimate eigenvalue.
# ---------------------------------------------------------------------------

PC1_ITERS = 4
PC1_ROUND = 10
_PC1_DEC = "decimal(38,12)"


def q_embedding_pc1(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Materialize the d(d+1)/2-row covariance triangle ONCE (one
    # distributed job — the 100 TB part); the collect is d²-bounded,
    # broadcast-class by the same argument as kmeans_fit's per-round
    # centroid collect.  The iteration then runs as a driver loop of
    # tiny single-partition Spark jobs — one per round, kmeans-style —
    # with EVERY arithmetic step still a Spark Column expression
    # (decimal casts, ROUND), so the engine's decimal semantics — and
    # therefore the DuckDB oracle's — are preserved exactly.  (A fully
    # chained in-plan form was hash-identical but re-optimized the
    # deepening plan per round: 105 s vs ~3 s at sf0.01.)
    tri_rows = (
        q_embedding_covariance(spark, sf_dir)
        .select("i", "j", F.col("cov").alias("c"))
        .collect()
    )
    d = max(r["i"] for r in tri_rows)
    mat: dict[int, list[float]] = {i: [0.0] * d for i in range(1, d + 1)}
    for r in tri_rows:
        mat[r["i"]][r["j"] - 1] = r["c"]
        mat[r["j"]][r["i"] - 1] = r["c"]
    # The per-round frames are built from spark.range + LITERAL arrays —
    # pure JVM LocalRelation/Range plans.  (A createDataFrame-from-
    # Python frame plans a Python-RDD scan, and EVERY per-round job
    # then pays a Python-worker round trip — measured 1.4-3.7 s per
    # 64-row job; the literal form runs the same job in ~0.1 s.)
    # Literal arrays are SQL-PARSED, not Column-built (round-12): the
    # d×d F.array(F.lit(...)) form issued ~12k py4j commands — most of
    # this query's 5.5 s plan-construction time; one parsed expression
    # is ~10 ms.  D-suffixed repr literals go through Double.parseDouble
    # (correctly rounded, shortest-repr round-trip), so the parsed
    # doubles are bit-identical to the lit() doubles.
    crow_lit = F.expr(
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{float(x)!r}D" for x in mat[i]) + ")"
            for i in range(1, d + 1)
        )
        + ")"
    )
    base = (
        spark.range(1, d + 1)
        .coalesce(1)
        .select(
            F.col("id").cast("int").alias("dim"),
            F.element_at(crow_lit, F.col("id").cast("int")).alias("crow"),
        )
        # pin the d-row matrix once: each round's job otherwise
        # re-analyzes and re-compiles the d²-literal array expression
        # (~0.4 s/round of pure planning at d=64)
        .localCheckpoint(eager=True)
    )
    # Fold decimal widths: elements DECIMAL(25,12) into a DECIMAL(37,12)
    # accumulator — (37,12)+(25,12) = (38,12) with NO scale reduction,
    # so every intermediate is exact and the fold equals the oracle's
    # order-free SUM.  (A (38,12)+(38,12) fold silently narrows each
    # intermediate to scale 11 — Spark rounds to fit precision 38 — and
    # diverged from the oracle by ~1e-8.)  The cast back to (37,12) is
    # lossless at these magnitudes.
    elem_dec = "decimal(25,12)"
    acc_dec = "decimal(37,12)"
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # The PC1_ITERS power-iteration rounds are CHAINED IN ONE PLAN over
    # the checkpointed 64-row matrix (round-12): the previous form
    # collected v after every round and re-emitted it as literals — one
    # driver job per round whose fixed cost dwarfed the 64-row
    # arithmetic.  Here each round rebuilds the ordered v array with a
    # deterministic window collect_list (dim is unique, frame pinned
    # unbounded/unbounded) and applies the IDENTICAL decimal fold /
    # norm / ROUND expressions to it, so the arithmetic is unchanged
    # step for step (the collected-literal round trip was the identity:
    # repr + Double.parseDouble reproduce the double exactly).  One
    # action, zero per-round driver synchronization.  (The earlier
    # measured 105 s chained-form blowup came from a COLLECT per round
    # on a deepening plan — re-optimized each round; a single action on
    # the depth-PC1_ITERS plan optimizes once.)
    worder = Window.partitionBy().orderBy("dim").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cur = base.withColumn("v", F.lit(0.125))
    for _ in range(PC1_ITERS):
        step = cur.select(
            "dim", "crow", F.collect_list("v").over(worder).alias("varr")
        )
        w = F.aggregate(
            F.zip_with(
                F.col("crow"), F.col("varr"), lambda c, x: (c * x).cast(elem_dec)
            ),
            F.lit(0).cast(acc_dec),
            lambda acc, t: (acc + t).cast(acc_dec),
        ).cast("double")
        wdf = step.select("dim", "crow", w.alias("w"))
        nrm = F.sqrt(
            F.sum((F.col("w") * F.col("w")).cast(_PC1_DEC))
            .over(wall)
            .cast("double")
        )
        cur = wdf.select(
            "dim",
            "crow",
            (
                F.round(
                    (F.col("w") / nrm) * F.lit(float(10 ** PC1_ROUND)), 0
                )
                / F.lit(float(10 ** PC1_ROUND))
            ).alias("v"),
            nrm.alias("nrm"),
        )
    return cur.select(
        "dim",
        "v",
        (F.round(F.col("nrm") * F.lit(1e6), 0) / F.lit(1e6)).alias("eig"),
    )


def _pc1_sql() -> str:
    cov = Q_EMBEDDING_COVARIANCE_SQL.strip().rstrip()
    rounds = []
    prev = "v0"
    for r in range(1, PC1_ITERS + 1):
        rounds.append(
            f"w{r} AS (\n"
            f"  SELECT f.i AS dim,\n"
            f"         CAST(SUM(CAST(f.c * {prev}.v AS DECIMAL(38,12))) AS DOUBLE) AS w\n"
            f"  FROM fullm f JOIN {prev} ON {prev}.dim = f.j GROUP BY f.i\n"
            f"),\n"
            f"n{r} AS (SELECT sqrt(CAST(SUM(CAST(w * w AS DECIMAL(38,12))) AS DOUBLE)) AS nrm FROM w{r}),\n"
            f"v{r} AS (SELECT dim, ROUND((w / nrm) * 1e{PC1_ROUND}, 0) / 1e{PC1_ROUND} AS v FROM w{r} CROSS JOIN n{r})"
        )
        prev = f"v{r}"
    body = ",\n".join(rounds)
    return f"""
WITH cov_tbl AS ({cov}),
tri AS (SELECT i, j, cov AS c FROM cov_tbl),
fullm AS (
  SELECT i, j, c FROM tri
  UNION ALL
  SELECT j AS i, i AS j, c FROM tri WHERE i <> j
),
v0 AS (SELECT DISTINCT i AS dim, 0.125 AS v FROM fullm),
{body}
SELECT dim, v, ROUND(((SELECT nrm FROM n{PC1_ITERS})) * 1e6, 0) / 1e6 AS eig FROM v{PC1_ITERS}
"""


Q_EMBEDDING_PC1_SQL = _pc1_sql()


# ---------------------------------------------------------------------------
# BPE merge-pair statistics — the first iteration of byte-pair-encoding
# tokenizer training: adjacent character-pair counts over the corpus.
# The trainer's classic efficiency trick IS the distributed plan: count
# pairs over the DISTINCT-WORD dictionary weighted by word frequency,
# not over the raw token stream — the first aggregate compresses the
# corpus to its vocabulary (at 100 TB: billions of tokens → millions of
# words), and the per-word pair explode runs on the compressed side.
# Two hash aggregates (word, pair), pure integer counts, top-K via
# TakeOrderedAndProject.
# ---------------------------------------------------------------------------

BPE_TOPK = 50


def q_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    words = (
        documents.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.length("w") >= 2)
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "c",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(BPE_TOPK)
    )


Q_BPE_MERGE_PAIRS_SQL = f"""
WITH words AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest({{toks}}) AS w FROM documents)
  GROUP BY w HAVING length(w) >= 2
),
pairs AS (
  SELECT unnest(list_transform(range(1, length(w)), i -> substr(w, i, 2))) AS pair, c
  FROM words
)
SELECT pair, CAST(SUM(c) AS BIGINT) AS n
FROM pairs GROUP BY pair
ORDER BY n DESC, pair ASC
LIMIT {BPE_TOPK}
"""


def _bpe_sql() -> str:
    return Q_BPE_MERGE_PAIRS_SQL.replace("{toks}", SQL_TOKS)


Q_BPE_MERGE_PAIRS_SQL = _bpe_sql()


QUERIES = {
    "approx_quantile_profile": q_approx_quantile_profile,
    "token_pmi": q_token_pmi,
    "hard_negatives": q_hard_negatives,
    "embedding_pc1": q_embedding_pc1,
    "bpe_merge_pairs": q_bpe_merge_pairs,
    "embedding_covariance": q_embedding_covariance,
    "embedding_standardize": q_embedding_standardize,
    "minhash_jaccard_estimate": q_minhash_jaccard_estimate,
}

ORACLE_SQL = {
    "approx_quantile_profile": Q_APPROX_QUANTILE_PROFILE_SQL,
    "token_pmi": Q_TOKEN_PMI_SQL,
    "hard_negatives": Q_HARD_NEGATIVES_SQL,
    "embedding_pc1": Q_EMBEDDING_PC1_SQL,
    "bpe_merge_pairs": Q_BPE_MERGE_PAIRS_SQL,
    "embedding_covariance": Q_EMBEDDING_COVARIANCE_SQL,
    "embedding_standardize": Q_EMBEDDING_STANDARDIZE_SQL,
    "minhash_jaccard_estimate": Q_MINHASH_JACCARD_ESTIMATE_SQL,
}
