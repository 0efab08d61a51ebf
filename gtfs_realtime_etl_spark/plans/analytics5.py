"""Ninth query bank: frequent-items sketching, weighted sampling, and
a token-frequency power-law fit.

- ``heavy_hitters`` — the Misra-Gries frequent-items sketch
  (``operators/sketches.py``) next to its exact twin: the top tokens
  by exact count, each carrying theorem-derived verdict columns
  (estimate-within-bound, guaranteed-retention) that hold under EVERY
  partition layout — so the approximate operator rides the hash gate
  the same way ``approx_distinct_profile`` and
  ``minhash_jaccard_estimate`` do.
- ``weighted_sample`` — deterministic size-n-per-stratum weighted
  sampling (sequential Poisson / Ohlsson PPS): priority key u/w from
  the engine's portable integer hash and the document length as the
  weight.  Key arithmetic is a single IEEE division (correctly
  rounded on every engine) — no libm, so the sample is bit-identical
  across Spark, DuckDB and partition layouts.
- ``zipf_fit`` — least-squares slope of log2(freq) against log2(rank)
  over the top tokens: the Zipf exponent a corpus-quality pipeline
  watches for degenerate/boilerplate corpora.  Logs are the engine's
  portable integer log2 (functions/stats.py), moment sums are
  decimal-accumulated, so the single-row fit is hash-exact.

Reference scope note: the reference (smohiudd/gtfs-realtime-etl) has
no sketch/sampling surface; these are driver-mandated LLM-pipeline
extensions (SURVEY.md §7 step 7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.functions.hashing import (
    MOD,
    sql_token_hash64,
    token_hash64_column,
)
from gtfs_realtime_etl_spark.functions.stats import (
    portable_int_log2_sql,
    portable_int_log2_staged,
)
from gtfs_realtime_etl_spark.functions.text import tokens
from gtfs_realtime_etl_spark.functions.vector import cosine_similarity
from gtfs_realtime_etl_spark.operators.similarity import (
    pq_adc_topk,
    pq_codebook_from_ids,
)
from gtfs_realtime_etl_spark.operators.sketches import mg_summary
from gtfs_realtime_etl_spark.plans.base import (
    FOLD_SUM,
    Q_ANN_COSINE_TOPK_SQL,
    Q_ANN_IVF_TOPK_SQL,
    Q_ANN_LSH_TOPK_SQL,
    SQL_TOKS,
    TOP_K,
    q_ann_cosine_topk,
    q_ann_ivf_topk,
    q_ann_lsh_topk,
)
from gtfs_realtime_etl_spark.sources.testdata import load_testdata


# ---------------------------------------------------------------------------
# Heavy hitters: Misra-Gries sketch vs exact twin.
#
# The sketch side never shuffles data — each partition folds its token
# stream into <= HH_CAPACITY counters plus one decrement scalar
# (operators/sketches.py), and the partials (partitions x capacity
# rows) merge in one tiny aggregate.  The exact side (a full token
# groupBy) exists for the hash gate; at 100 TB the sketch runs alone
# and the guarantee columns ARE the contract:
#
#   bound_ok      est <= exact  AND  exact - est <= D      (always true)
#   retained_ok   exact > N/(cap+1)  implies  est > 0      (always true)
#   guaranteed    exact * (cap+1) > N   -- integer arithmetic, exact
#
# D (summed decrement mass) and the reported estimate values vary with
# partition layout; the verdict columns do NOT (mergeable-summaries
# theorem), which is what makes the output deterministic and
# oracle-hashable.  ``guaranteed`` is a pure function of exact counts.
# ---------------------------------------------------------------------------

HH_CAPACITY = 64
HH_TOPK = 40


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    toks = documents.select(F.explode(tokens(F.col("text"))).alias("token"))
    # One groupBy yields BOTH sketch outputs (the per-token estimates
    # and the global decrement scalar D, which lands in the NULL-token
    # group) — the shared aggregate exchange is reused at runtime, so
    # the sketch side scans the corpus exactly once.
    grouped = mg_summary(toks, HH_CAPACITY)
    est = grouped.where(F.col("token").isNotNull()).select("token", "est")
    # The exact twin also scans the corpus once: N rides off the
    # (already vocabulary-sized) count frame, not a second corpus pass.
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c_exact"))
    scalars = grouped.where(F.col("token").isNull()).select("d").crossJoin(
        F.broadcast(counts.agg(F.sum("c_exact").alias("n_tokens")))
    )
    exact_top = counts.orderBy(F.desc("c_exact"), F.asc("token")).limit(
        HH_TOPK
    )
    j = (
        exact_top.join(F.broadcast(est), "token", "left")
        .withColumn("est", F.coalesce(F.col("est"), F.lit(0)))
        .crossJoin(F.broadcast(scalars))
    )
    guaranteed = (F.col("c_exact") * F.lit(HH_CAPACITY + 1)) > F.col("n_tokens")
    bound_ok = (F.col("est") <= F.col("c_exact")) & (
        (F.col("c_exact") - F.col("est")) <= F.col("d")
    )
    retained_ok = (~guaranteed) | (F.col("est") > 0)
    return j.select(
        "token",
        "c_exact",
        "n_tokens",
        guaranteed.alias("guaranteed"),
        bound_ok.alias("bound_ok"),
        retained_ok.alias("retained_ok"),
    ).orderBy(F.desc("c_exact"), F.asc("token"))


Q_HEAVY_HITTERS_SQL = f"""
WITH toks AS (
  SELECT unnest({SQL_TOKS}) AS token FROM documents
),
scalars AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens FROM toks),
exact_top AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS c_exact
  FROM toks GROUP BY token
  ORDER BY c_exact DESC, token ASC
  LIMIT {HH_TOPK}
)
SELECT token, c_exact, n_tokens,
       c_exact * {HH_CAPACITY + 1} > n_tokens AS guaranteed,
       TRUE AS bound_ok,
       TRUE AS retained_ok
FROM exact_top CROSS JOIN scalars
ORDER BY c_exact DESC, token ASC
"""


# ---------------------------------------------------------------------------
# Weighted sampling: sequential Poisson (Ohlsson) PPS, n per stratum.
#
# Priority key xi = u / w with u a deterministic integer hash of the
# doc id (functions/hashing.py — the engine's portable 62-bit hash,
# folded into [1, MOD]) and w = n_chars the size weight; the n
# SMALLEST keys per source win, giving inclusion probability
# approximately proportional to length.  One IEEE division per row —
# +,-,x,/ are correctly rounded in every engine, so (unlike an
# exp/ln-based Efraimidis-Spirakis key) the sample is bit-identical
# across Spark, DuckDB, and partition layouts.
#
# Scale shape: the per-source top-n runs two-phase — a local rank
# over (source, spark_partition_id) prunes to <= n x partitions
# candidate rows, then the global per-source rank runs on the
# surviving sliver.  Phase 1 still plans one exchange (a window always
# redistributes on its partition keys), but the salt spreads each
# source across all tasks, so a mega-source can never pin one reducer
# — and the phase-2 sort only ever sees the sliver.  The prefilter
# keeps a superset of the global top-n for ANY salt assignment, so the
# result does not depend on the physical layout.  Same discipline as
# the salted top-k in operators/similarity.py.
# ---------------------------------------------------------------------------

WS_PER_SOURCE = 5


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    u = (
        F.pmod(token_hash64_column(F.col("doc_id").cast("string")), F.lit(MOD))
        + F.lit(1)
    ).cast("double")
    w = F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    keyed = documents.select(
        "source", "doc_id", "n_chars", (u / w).alias("samp_key")
    )
    local = Window.partitionBy("source", F.spark_partition_id()).orderBy(
        F.asc("samp_key"), F.asc("doc_id")
    )
    pruned = (
        keyed.withColumn("_lrn", F.row_number().over(local))
        .where(F.col("_lrn") <= WS_PER_SOURCE)
        .drop("_lrn")
    )
    final = Window.partitionBy("source").orderBy(
        F.asc("samp_key"), F.asc("doc_id")
    )
    return (
        pruned.withColumn("rn", F.row_number().over(final))
        .where(F.col("rn") <= WS_PER_SOURCE)
        .select(
            "source",
            "doc_id",
            "n_chars",
            (F.round((F.col("samp_key")) * F.lit(1e6), 0) / F.lit(1e6)).alias("samp_key"),
            "rn",
        )
        .orderBy("source", "rn")
    )


Q_WEIGHTED_SAMPLE_SQL = f"""
WITH keyed AS (
  SELECT source, doc_id, n_chars,
         CAST(({sql_token_hash64("CAST(doc_id AS VARCHAR)")} % {MOD}
               + {MOD}) % {MOD} + 1 AS DOUBLE)
           / CAST(GREATEST(n_chars, 1) AS DOUBLE) AS samp_key
  FROM documents
),
ranked AS (
  SELECT source, doc_id, n_chars, samp_key,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY samp_key ASC, doc_id ASC) AS rn
  FROM keyed
)
SELECT source, doc_id, n_chars, ROUND((samp_key) * 1e6, 0) / 1e6 AS samp_key,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {WS_PER_SOURCE}
ORDER BY source, rn
"""


# ---------------------------------------------------------------------------
# Zipf fit: least-squares log2(freq) ~ log2(rank) over the top tokens.
#
# Corpus-quality monitors watch the Zipf exponent (natural text ~ -1;
# boilerplate-flooded or templated corpora flatten or steepen it).
# The fit is one exact token count (the only shuffle), a top-N global
# sort, then a 1-row aggregate: x = log2(rank), y = log2(count) via
# the engine's portable integer log2 (functions/stats.py — argument
# reduction + odd atanh series, bit-identical across engines), moment
# sums decimal-accumulated so they are associative and
# layout-independent, and the closed-form slope/intercept/r2 in plain
# IEEE arithmetic on the already-exact sums.
# ---------------------------------------------------------------------------

ZIPF_TOPN = 200
_ZDEC = "decimal(30,15)"


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    counts = (
        documents.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("token"))
        .limit(ZIPF_TOPN)
    )
    ranked = counts.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("c"), F.asc("token"))),
    )
    # Staged SQL-parsed log2 (round-12, bit-identical — grid pin);
    # the two inline Column-Horner instances were ~0.4 s of py4j plan
    # construction per build.
    xy = portable_int_log2_staged(ranked, {"x": "rank", "y": "c"}).select(
        "x", "y"
    )
    sums = xy.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum(F.col("x").cast(_ZDEC)).alias("sx"),
        F.sum(F.col("y").cast(_ZDEC)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(_ZDEC)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(_ZDEC)).alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast(_ZDEC)).alias("sxy"),
    )
    n = F.col("n_terms").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    slope = cov_n / var_x
    return sums.select(
        "n_terms",
        (F.round((slope) * F.lit(1e6), 0) / F.lit(1e6)).alias("slope"),
        (F.round(((sy - slope * sx) / n) * F.lit(1e6), 0) / F.lit(1e6)).alias("intercept"),
        (F.round((cov_n * cov_n / (var_x * var_y)) * F.lit(1e6), 0) / F.lit(1e6)).alias("r2"),
    )


def _zipf_sql() -> str:
    xlog = portable_int_log2_sql("rank", "zx")
    ylog = portable_int_log2_sql("c", "zy")
    return f"""
WITH counts AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest({SQL_TOKS}) AS token FROM documents)
  GROUP BY token ORDER BY c DESC, token ASC LIMIT {ZIPF_TOPN}
),
ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, token ASC) AS rank
  FROM counts
),
logs AS (SELECT {xlog}, {ylog} FROM ranked),
sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
         CAST(SUM(CAST(zx_lg AS DECIMAL(30,15))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(zy_lg AS DECIMAL(30,15))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(zx_lg * zx_lg AS DECIMAL(30,15))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(zy_lg * zy_lg AS DECIMAL(30,15))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(zx_lg * zy_lg AS DECIMAL(30,15))) AS DOUBLE) AS sxy
  FROM logs
)
SELECT n_terms,
       ROUND(((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 1e6, 0) / 1e6 AS slope,
       ROUND(((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n) * 1e6, 0) / 1e6 AS intercept,
       ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy))) * 1e6, 0) / 1e6 AS r2
FROM (SELECT *, CAST(n_terms AS DOUBLE) AS n FROM sums)
"""


Q_ZIPF_FIT_SQL = _zipf_sql()


# ---------------------------------------------------------------------------
# Robust outlier profile: median / MAD per event type.
#
# Mean/std outlier fences (the reliability query's z-scores) break down
# when the contamination itself drags the moments; the robust pair —
# median and the median absolute deviation, scaled by the normal
# consistency constant 1.4826 — is the standard quality-monitor
# replacement.  Exact interpolated percentiles hash bit-for-bit across
# Spark and DuckDB (pinned by approx_quantile_profile), the fence
# comparison is plain IEEE arithmetic on those exact medians, so the
# whole report rides the hash gate.
#
# Plan shape: three keyed aggregates over event_type (a handful of
# groups — the med/mad frames are broadcast-class), corpus scanned per
# pass.  At 100 TB the single-pass variant swaps the exact percentile
# for the GK sketch (approx_quantile_profile's machinery) — this query
# is the exact monitor.
# ---------------------------------------------------------------------------

MAD_K = 3.0
MAD_CONSISTENCY = 1.4826


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    ev = events.select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    fenced = dev.join(F.broadcast(mad), "event_type")
    thr = F.lit(MAD_K * MAD_CONSISTENCY) * F.col("mad")
    return (
        fenced.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("med").alias("_med"),
            F.min("mad").alias("_mad"),
            F.sum(
                F.when(F.col("adev") > thr, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_outliers"),
        )
        .select(
            "event_type",
            "n",
            (F.round((F.col("_med")) * F.lit(1e6), 0) / F.lit(1e6)).alias("med"),
            (F.round((F.col("_mad")) * F.lit(1e6), 0) / F.lit(1e6)).alias("mad"),
            "n_outliers",
            (F.round((F.col("n_outliers").cast("double") / F.col("n").cast("double")) * F.lit(1e6), 0) / F.lit(1e6)).alias("outlier_share"),
        )
        .orderBy("event_type")
    )


Q_MAD_OUTLIERS_SQL = f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, med, ABS(value - med) AS adev
  FROM events e JOIN med USING (event_type)
),
mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND((MIN(d.med)) * 1e6, 0) / 1e6 AS med,
       ROUND((MIN(m.mad)) * 1e6, 0) / 1e6 AS mad,
       CAST(SUM(CASE WHEN d.adev > {MAD_K * MAD_CONSISTENCY!r} * m.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       ROUND((CAST(SUM(CASE WHEN d.adev > {MAD_K * MAD_CONSISTENCY!r} * m.mad
                           THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE)) * 1e6, 0) / 1e6 AS outlier_share
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
ORDER BY d.event_type
"""


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion of two retrievers — the standard way a
# retrieval pipeline merges heterogeneous rankers (dense full-dim,
# cheap truncated-dim, BM25, ...) without score calibration:
#
#   rrf(v) = sum over retrievers of 1 / (K + rank_r(v)),  K = 60
#
# Retriever A is full 64-dim cosine, retriever B is the 16-dim head
# (the truncated "cheap first-stage" ranker).  Ranks come from the
# ROUNDED scores with vec_id tiebreak, so the ordering — and hence the
# integer ranks and the rational RRF sum — is engine-exact.  Top-R per
# retriever is TakeOrderedAndProject (no global sort materialization);
# the rank window then runs on the R surviving rows.
# ---------------------------------------------------------------------------

RRF_K = 60
RRF_R = 50
RRF_TOPK = 20


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    (embeddings,) = load_testdata(spark, sf_dir, "embeddings")
    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    qvec = emb.filter(F.col("vec_id") == 0).select(F.col("vec").alias("qvec"))
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qvec))
        .select(
            "vec_id",
            (F.round((cosine_similarity(F.col("vec"), F.col("qvec"))) * F.lit(1e6), 0) / F.lit(1e6)).alias(
                "s_full"
            ),
            (F.round((cosine_similarity(
                    F.slice(F.col("vec"), 1, 16), F.slice(F.col("qvec"), 1, 16)
                )) * F.lit(1e6), 0) / F.lit(1e6)).alias("s_head"),
        )
    )

    def ranked(score: str) -> DataFrame:
        top = scored.select("vec_id", score).orderBy(
            F.desc(score), F.asc("vec_id")
        ).limit(RRF_R)
        w = Window.orderBy(F.desc(score), F.asc("vec_id"))
        return top.select(
            "vec_id", F.row_number().over(w).alias(f"rank_{score}")
        )

    a, b = ranked("s_full"), ranked("s_head")
    j = a.join(b, "vec_id", "full_outer")
    contrib_a = F.when(
        F.col("rank_s_full").isNotNull(),
        F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("rank_s_full").cast("double")),
    ).otherwise(F.lit(0.0))
    contrib_b = F.when(
        F.col("rank_s_head").isNotNull(),
        F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("rank_s_head").cast("double")),
    ).otherwise(F.lit(0.0))
    return (
        j.select(
            "vec_id",
            F.col("rank_s_full").alias("rank_full"),
            F.col("rank_s_head").alias("rank_head"),
            (F.round((contrib_a + contrib_b) * F.lit(1e9), 0) / F.lit(1e9)).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), F.asc("vec_id"))
        .limit(RRF_TOPK)
    )


Q_RRF_FUSION_SQL = f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
q AS (SELECT vec AS qvec FROM emb WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         ROUND((list_cosine_similarity(e.vec, q.qvec)) * 1e6, 0) / 1e6 AS s_full,
         ROUND((list_cosine_similarity(e.vec[1:16], q.qvec[1:16])) * 1e6, 0) / 1e6 AS s_head
  FROM emb e CROSS JOIN q WHERE e.vec_id <> 0
),
ra AS (
  SELECT vec_id, rank_full FROM (
    SELECT vec_id, ROW_NUMBER() OVER (ORDER BY s_full DESC, vec_id ASC)
           AS rank_full
    FROM scored
  ) WHERE rank_full <= {RRF_R}
),
rb AS (
  SELECT vec_id, rank_head FROM (
    SELECT vec_id, ROW_NUMBER() OVER (ORDER BY s_head DESC, vec_id ASC)
           AS rank_head
    FROM scored
  ) WHERE rank_head <= {RRF_R}
)
SELECT COALESCE(ra.vec_id, rb.vec_id) AS vec_id,
       CAST(rank_full AS INT) AS rank_full,
       CAST(rank_head AS INT) AS rank_head,
       ROUND((COALESCE(1.0 / ({RRF_K} + CAST(rank_full AS DOUBLE)), 0.0)
             + COALESCE(1.0 / ({RRF_K} + CAST(rank_head AS DOUBLE)), 0.0)) * 1e9, 0) / 1e9 AS rrf
FROM ra FULL OUTER JOIN rb ON ra.vec_id = rb.vec_id
ORDER BY rrf DESC, vec_id ASC
LIMIT {RRF_TOPK}
"""


# ---------------------------------------------------------------------------
# Product-quantization ADC top-k — the memory-bound ANN scale path
# (operators/similarity.py::pq_adc_topk; Jégou et al. 2011).  The
# corpus is encoded as PQ_M codeword indices against a deterministic
# sampled codebook (the subvectors of vec_ids 1..PQ_K — the classic
# untrained-PQ baseline; kmeans_fit per subspace is the trained
# drop-in); the query ranks vectors by summing PQ_M driver-computed
# table lookups.  Encoding, lookups, and both folds follow the seeded
# left-fold contract, so the oracle replays the whole quantize →
# encode → ADC → rank pipeline bit-for-bit — including every argmin
# tie (dist, then lowest codeword).
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces (64-dim corpus -> 8-dim subvectors)
PQ_K = 16  # codewords per subspace
PQ_CODEBOOK_IDS = tuple(range(1, PQ_K + 1))  # vec_id 0 is the query


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    (embeddings,) = load_testdata(spark, sf_dir, "embeddings")
    codebook = pq_codebook_from_ids(embeddings, list(PQ_CODEBOOK_IDS), PQ_M)
    q = embeddings.filter(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), F.col("embedding").alias("qvec")
    )
    res = pq_adc_topk(embeddings.filter("vec_id != 0"), q, codebook, k=TOP_K)
    return res.select(
        "query_id",
        "vec_id",
        "label",
        (F.round((F.col("adc_dist")) * F.lit(1e6), 0) / F.lit(1e6)).alias("adc_dist"),
        "rank",
    )


def _ann_pq_sql() -> str:
    """Oracle: rebuild the sampled codebook, the per-(vec, subspace)
    argmin encoding, the query's ADC tables, and the ranked ADC sums
    entirely in SQL — every float op in the same seeded-fold order as
    the Spark plan and the driver-side table build."""

    d_sub = 64 // PQ_M

    def l2sq(vec_elem: str) -> str:
        term = f"({vec_elem} - w.w[j]) * ({vec_elem} - w.w[j])"
        return FOLD_SUM.format(
            terms=f"list_transform(range(1, {d_sub} + 1), j -> {term})"
        )

    return f"""
WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings),
samp AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, vec
  FROM emb WHERE vec_id BETWEEN 1 AND {PQ_K}
),
cw AS (
  SELECT ms.m, samp.c,
         list_transform(range(1, {d_sub} + 1), j -> vec[ms.m * {d_sub} + j]) AS w
  FROM samp CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS m) ms
),
docdist AS (
  SELECT e.vec_id, w.m, w.c, {l2sq(f"e.vec[w.m * {d_sub} + j]")} AS d
  FROM emb e CROSS JOIN cw w
  WHERE e.vec_id <> 0
),
codes AS (
  SELECT vec_id, m, c FROM (
    SELECT vec_id, m, c,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, c) AS rn
    FROM docdist
  ) WHERE rn = 1
),
qdist AS (
  SELECT w.m, w.c, {l2sq(f"qv.vec[w.m * {d_sub} + j]")} AS qd
  FROM (SELECT vec FROM emb WHERE vec_id = 0) qv CROSS JOIN cw w
),
adc AS (
  SELECT codes.vec_id,
         list_reduce(list_prepend(0.0, list(qd ORDER BY codes.m)),
                     (acc, x) -> acc + x) AS adc_dist
  FROM codes JOIN qdist ON codes.m = qdist.m AND codes.c = qdist.c
  GROUP BY codes.vec_id
),
ranked AS (
  SELECT CAST(0 AS INTEGER) AS query_id, a.vec_id, e.label, a.adc_dist,
         ROW_NUMBER() OVER (ORDER BY a.adc_dist ASC, a.vec_id ASC) AS rank
  FROM adc a JOIN emb e ON a.vec_id = e.vec_id
)
SELECT query_id, vec_id, label, ROUND((adc_dist) * 1e6, 0) / 1e6 AS adc_dist, rank
FROM ranked WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# ANN recall report — the accuracy contract for the approximate
# retrieval family, completing the sketch-accuracy set (MinHash →
# minhash_jaccard_estimate, GK → approx_quantile_profile, HLL →
# approx_distinct_profile, frequent items → heavy_hitters): for each
# approximate retriever (IVF with nprobe=2, LSH hyperplane buckets,
# PQ/ADC sampled codebooks), recall@k against the exact cosine top-k.
# Every input ranking is already deterministic and oracle-gated
# (ann_cosine_topk / ann_ivf_topk / ann_lsh_topk / ann_pq_topk), so the
# overlap counts and the rational recall are engine-exact — approximate
# operators whose accuracy report is EXACT.
# ---------------------------------------------------------------------------


def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pin ALL FOUR rankings as eager TOP_K-row checkpoints,
    # materialized CONCURRENTLY (Spark schedules jobs submitted from
    # separate driver threads in parallel; the four rankers share no
    # state, only the corpus scan).  Round-7 measured the serial form
    # at ~the SUM of the legs (each leg's ranker — including its
    # driver-side codebook/centroid collects — ran back-to-back inside
    # one action); the composite's wall time is now ~the MAX of the
    # legs, and the returned plan is three broadcast-class joins over
    # pinned TOP_K-row frames.
    from concurrent.futures import ThreadPoolExecutor

    def pin(fn) -> DataFrame:
        return fn(spark, sf_dir).select("vec_id").localCheckpoint()

    with ThreadPoolExecutor(max_workers=4) as pool:
        futs = {
            name: pool.submit(pin, fn)
            for name, fn in (
                ("exact", q_ann_cosine_topk),
                ("ivf", q_ann_ivf_topk),
                ("lsh", q_ann_lsh_topk),
                ("pq", q_ann_pq_topk),
            )
        }
        pinned = {name: f.result() for name, f in futs.items()}
    exact = pinned["exact"]

    def row(method: str, approx: DataFrame) -> DataFrame:
        return (
            exact.join(approx, "vec_id")
            .agg(F.count(F.lit(1)).alias("n_overlap"))
            .select(
                F.lit(method).alias("method"),
                F.lit(TOP_K).alias("k"),
                "n_overlap",
                (F.round((F.col("n_overlap").cast("double") / F.lit(float(TOP_K))) * F.lit(1e6), 0) / F.lit(1e6)).alias("recall"),
            )
        )

    return (
        row("ivf", pinned["ivf"])
        .unionByName(row("lsh", pinned["lsh"]))
        .unionByName(row("pq", pinned["pq"]))
        .orderBy("method")
    )


def _ann_recall_sql() -> str:
    def one(method: str, sql: str) -> str:
        return f"""
SELECT '{method}' AS method, {TOP_K} AS k,
       CAST(COUNT(*) AS BIGINT) AS n_overlap,
       ROUND((CAST(COUNT(*) AS DOUBLE) / {float(TOP_K)!r}) * 1e6, 0) / 1e6 AS recall
FROM ({Q_ANN_COSINE_TOPK_SQL.strip()}) ex
JOIN ({sql.strip()}) ap ON ex.vec_id = ap.vec_id
"""

    return (
        one("ivf", Q_ANN_IVF_TOPK_SQL)
        + " UNION ALL "
        + one("lsh", Q_ANN_LSH_TOPK_SQL)
        + " UNION ALL "
        + one("pq", _ann_pq_sql())
        + " ORDER BY method"
    )


QUERIES = {
    "ann_pq_topk": q_ann_pq_topk,
    "ann_recall_report": q_ann_recall_report,
    "heavy_hitters": q_heavy_hitters,
    "weighted_sample": q_weighted_sample,
    "zipf_fit": q_zipf_fit,
    "mad_outliers": q_mad_outliers,
    "rrf_fusion": q_rrf_fusion,
}

ORACLE_SQL = {
    "ann_pq_topk": _ann_pq_sql(),
    "ann_recall_report": _ann_recall_sql(),
    "heavy_hitters": Q_HEAVY_HITTERS_SQL,
    "weighted_sample": Q_WEIGHTED_SAMPLE_SQL,
    "zipf_fit": Q_ZIPF_FIT_SQL,
    "mad_outliers": Q_MAD_OUTLIERS_SQL,
    "rrf_fusion": Q_RRF_FUSION_SQL,
}
