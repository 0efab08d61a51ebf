"""Third bank of oracle-gated queries: interval-overlap co-activity
(bucketed range join), time-grid gap-fill resampling, one-pass table
profiling, boilerplate-prefix detection, and lexical-diversity quality
signals.

Cross-engine determinism rules are the same as ``plans.base`` /
``plans.analytics``: integer arithmetic wherever a join key, rank, or
filter boundary lives; DECIMAL-stabilized sums for means;
round-to-6-digits only on output columns; explicit tie-breaks.  ``events.ts`` is the
loader-normalized epoch-ns bigint on the Spark side and
``epoch_ns(ts)`` on the DuckDB side (sources/testdata.py).

The diversity metric here is deliberately the Gini–Simpson index
(``1 - sum(c_i^2)/n^2``) rather than Shannon entropy: it is an exact
rational of integer counts, so both engines produce bit-identical
doubles with no libm ``ln`` in sight — entropy's per-term ``c*ln(c)``
sums are accumulation-order- and libm-dependent and cannot be made
hash-stable without lossy per-term rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


from gtfs_realtime_etl_spark.functions.exprs import _d
from gtfs_realtime_etl_spark.functions.hashing import MOD
from gtfs_realtime_etl_spark.functions.text import quality_score, tokens
from gtfs_realtime_etl_spark.functions.vector import l2_norm, sql_dot_fold
from gtfs_realtime_etl_spark.operators.chunking import chunk_documents
from gtfs_realtime_etl_spark.operators.rangejoin import overlap_join
from gtfs_realtime_etl_spark.operators.semdedup import semdedup_profile
from gtfs_realtime_etl_spark.operators.sessions import sessionize
from gtfs_realtime_etl_spark.operators.splits import (
    SPLIT_A,
    SPLIT_B,
    group_split_assign,
    split_slot,
    sql_group_hash_mixed,
    sql_split_assign,
    sql_split_slot,
)
from gtfs_realtime_etl_spark.plans.base import (
    FOLD_SUM,
    NS_PER_HOUR,
    QS_SCORE,
    REVENUE_SQL,
    SQL_TOKS,
    label_centroids_rows,
    revenue,
)
from gtfs_realtime_etl_spark.sources.testdata import load_testdata


# ---------------------------------------------------------------------------
# Interval-overlap co-activity: sessionize each user's event stream
# (30-min gap), then find pairs of users with sessions active within
# 15 minutes of each other (each session padded ±15 min, closed-bounds
# overlap on the padded intervals).  The pair join is the bucketed
# range join of operators/rangejoin.py — an hour-bucket equi-join with
# a residual overlap predicate and canonical-bucket dedup, never a
# cartesian.  Output is the per-user co-activity profile (distinct
# partners, total overlapping session pairs) so result size is
# O(users), not O(pairs).
#
# Scale shape: replication factor = 1 + padded_len/bucket ≈ 1.5; the
# only shuffles are the sessionize window, the bucket equi-join, and
# two integer aggregations.  All integer ns math — engine-exact.
# ---------------------------------------------------------------------------

SESSION_GAP_NS = 1_800_000_000_000  # 30 min
COACT_PAD_NS = 900_000_000_000  # +/- 15 min
# Bucket ~= padded-interval width (sessions are near-points, so padded
# width ~= 2 x pad = 30 min): replication stays ~2x while candidate
# pairs per bucket shrink ~8x vs a 1 h bucket — the bucket-width
# tradeoff documented in operators/rangejoin.py.
COACT_BUCKET_NS = 1_800_000_000_000  # 30 min


def _sessions(events: DataFrame) -> DataFrame:
    e = events.select("user_id", "ts", "event_id")
    s = sessionize(
        e, gap=SESSION_GAP_NS, order_cols=["event_id"]
    )
    return s.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end")
    )


def q_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    sess = _sessions(events)
    pad_lo = (F.col("s_start") - F.lit(COACT_PAD_NS)).alias
    pad_hi = (F.col("s_end") + F.lit(COACT_PAD_NS)).alias

    a = sess.select(
        F.col("user_id").alias("a_user"), pad_lo("a_start"), pad_hi("a_end")
    )
    b = sess.select(
        F.col("user_id").alias("b_user"), pad_lo("b_start"), pad_hi("b_end")
    )
    pairs = overlap_join(
        a,
        b,
        left_bounds=("a_start", "a_end"),
        right_bounds=("b_start", "b_end"),
        bucket_width=COACT_BUCKET_NS,
        residual=F.col("a_user") < F.col("b_user"),
        # pinned: session rows are tiny bytes but pair evaluation is the
        # CPU cost — AQE byte-coalescing would fuse the join to ~2 tasks
        num_partitions=spark.sparkContext.defaultParallelism,
    )
    per_pair = pairs.groupBy("a_user", "b_user").agg(
        F.count(F.lit(1)).alias("n")
    )
    both = per_pair.select(
        F.col("a_user").alias("user_id"), F.col("n")
    ).unionAll(per_pair.select(F.col("b_user").alias("user_id"), F.col("n")))
    return both.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_partner_pairs"),
        F.sum("n").alias("n_overlaps"),
    )


Q_INTERVAL_OVERLAP_JOIN_SQL = f"""
WITH e AS (
  SELECT user_id, epoch_ns(ts) AS tns, event_id FROM events
),
marked AS (
  SELECT user_id, tns, event_id,
         LAG(tns) OVER (PARTITION BY user_id ORDER BY tns, event_id) AS prev
  FROM e
),
numbered AS (
  SELECT user_id, tns,
         SUM(CASE WHEN prev IS NULL OR tns - prev > {SESSION_GAP_NS}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY tns, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM marked
),
sess AS (
  SELECT user_id,
         MIN(tns) - {COACT_PAD_NS} AS s_start,
         MAX(tns) + {COACT_PAD_NS} AS s_end
  FROM numbered GROUP BY user_id, session_id
),
per_pair AS (
  SELECT a.user_id AS a_user, b.user_id AS b_user,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM sess a JOIN sess b
    ON a.user_id < b.user_id
   AND a.s_start <= b.s_end AND b.s_start <= a.s_end
  GROUP BY 1, 2
),
both_dirs AS (
  SELECT a_user AS user_id, n FROM per_pair
  UNION ALL
  SELECT b_user AS user_id, n FROM per_pair
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_partner_pairs,
       CAST(SUM(n) AS BIGINT) AS n_overlaps
FROM both_dirs GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Gap-fill resample: per user, build the full hour grid between their
# first and last event hour, take the last event value of each hour
# (deterministic (ts, event_id) tie-break), and forward-fill empty
# hours — the standard time-series regularization step before feature
# windows.  One grid explode (sequence per user), one left equi-join,
# one ordered window per user.  The fill is last(ignorenulls) over an
# unbounded-preceding frame; grid rows are O(users * hours-spanned).
# ---------------------------------------------------------------------------


def q_gap_fill_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    e = events.select(
        "user_id",
        F.expr(f"CAST(ts DIV {NS_PER_HOUR} AS BIGINT)").alias("hr"),
        "ts",
        "event_id",
        "value",
    )
    rn = Window.partitionBy("user_id", "hr").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    hourly = (
        e.withColumn("_rn", F.row_number().over(rn))
        .where(F.col("_rn") == 1)
        .select("user_id", "hr", "value")
    )
    bounds = e.groupBy("user_id").agg(
        F.min("hr").alias("mn"), F.max("hr").alias("mx")
    )
    grid = bounds.select(
        "user_id", F.explode(F.sequence("mn", "mx")).alias("hr")
    )
    g = grid.join(hourly, ["user_id", "hr"], "left")
    fill_w = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = g.withColumn(
        "filled", F.last("value", ignorenulls=True).over(fill_w)
    )
    return filled.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.count("value").alias("n_event_hours"),
        F.sum(F.col("filled").cast("decimal(18,6)"))
        .cast("double")
        .alias("filled_total"),
    )


Q_GAP_FILL_RESAMPLE_SQL = f"""
WITH e AS (
  SELECT user_id, epoch_ns(ts) // {NS_PER_HOUR} AS hr,
         epoch_ns(ts) AS tns, event_id, value
  FROM events
),
hourly AS (
  SELECT user_id, hr, value FROM (
    SELECT user_id, hr, value,
           ROW_NUMBER() OVER (PARTITION BY user_id, hr
                              ORDER BY tns DESC, event_id DESC) AS rn
    FROM e
  ) WHERE rn = 1
),
bounds AS (
  SELECT user_id, MIN(hr) AS mn, MAX(hr) AS mx FROM e GROUP BY user_id
),
grid AS (
  SELECT user_id, unnest(generate_series(mn, mx)) AS hr FROM bounds
),
filled AS (
  SELECT g.user_id, g.hr, h.value,
         LAST_VALUE(h.value IGNORE NULLS)
           OVER (PARTITION BY g.user_id ORDER BY g.hr
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
  FROM grid g LEFT JOIN hourly h
    ON g.user_id = h.user_id AND g.hr = h.hr
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(COUNT(value) AS BIGINT) AS n_event_hours,
       CAST(SUM(CAST(filled AS DECIMAL(18,6))) AS DOUBLE) AS filled_total
FROM filled GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# One-pass table profiler: per-column null count, exact distinct count,
# and a portable min/max representation — the data-quality audit every
# ingest pipeline runs before training.  The Spark plan is ONE
# aggregation over one scan (Catalyst expands the multi-distinct into
# an Expand + two-stage agg with map-side partials); the long format is
# a driver-free explode of the single result row.  At 100 TB swap the
# exact distincts for approx_count_distinct — same plan shape minus the
# Expand blowup (documented; the oracle gate needs exact).
#
# min/max reprs use only engine-portable casts: BIGINT -> VARCHAR,
# VARCHAR identity, DOUBLE -> DECIMAL(18,2) -> VARCHAR.  The timestamp
# column's repr is NULL (timestamp-to-string formatting is not
# cross-engine stable).
# ---------------------------------------------------------------------------

_PROFILE_COLS: list[tuple[str, str]] = [
    ("o_orderkey", "bigint"),
    ("o_custkey", "bigint"),
    ("o_orderstatus", "varchar"),
    ("o_totalprice", "double"),
    ("o_orderdate", "timestamp"),
    ("o_orderpriority", "varchar"),
]


def _repr_col(name: str, kind: str, agg) -> Column:
    if kind == "bigint":
        return agg(F.col(name)).cast("string")
    if kind == "varchar":
        return agg(F.col(name))
    if kind == "double":
        return agg(F.col(name)).cast("decimal(18,2)").cast("string")
    return F.lit(None).cast("string")


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_testdata(spark, sf_dir, "orders")
    # The local testdata files are single-row-group parquet, so without
    # this the Expand (x7 grouping ids) and the partial sort-aggregate
    # run in ONE task.  At production scale the scan arrives
    # multi-split and this widening is a cheap narrow-input shuffle.
    orders = orders.repartition(spark.sparkContext.defaultParallelism)
    aggs = []
    for name, kind in _PROFILE_COLS:
        aggs.append(
            F.sum(F.col(name).isNull().cast("bigint")).alias(f"{name}__nulls")
        )
        aggs.append(F.count_distinct(F.col(name)).alias(f"{name}__distinct"))
        aggs.append(_repr_col(name, kind, F.min).alias(f"{name}__min"))
        aggs.append(_repr_col(name, kind, F.max).alias(f"{name}__max"))
    row = orders.agg(*aggs)
    structs = [
        F.struct(
            F.lit(name).alias("col_name"),
            F.col(f"{name}__nulls").alias("n_nulls"),
            F.col(f"{name}__distinct").alias("n_distinct"),
            F.col(f"{name}__min").alias("min_repr"),
            F.col(f"{name}__max").alias("max_repr"),
        )
        for name, _ in _PROFILE_COLS
    ]
    return row.select(F.explode(F.array(*structs)).alias("m")).select("m.*")


def _profile_oracle_sql() -> str:
    parts = []
    for name, kind in _PROFILE_COLS:
        if kind == "bigint":
            mn, mx = f"CAST(MIN({name}) AS VARCHAR)", f"CAST(MAX({name}) AS VARCHAR)"
        elif kind == "varchar":
            mn, mx = f"MIN({name})", f"MAX({name})"
        elif kind == "double":
            mn = f"CAST(CAST(MIN({name}) AS DECIMAL(18,2)) AS VARCHAR)"
            mx = f"CAST(CAST(MAX({name}) AS DECIMAL(18,2)) AS VARCHAR)"
        else:
            mn = mx = "CAST(NULL AS VARCHAR)"
        parts.append(
            f"SELECT '{name}' AS col_name, "
            f"CAST(SUM(CASE WHEN {name} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS n_nulls, "
            f"CAST(COUNT(DISTINCT {name}) AS BIGINT) AS n_distinct, "
            f"{mn} AS min_repr, {mx} AS max_repr FROM orders"
        )
    return "\nUNION ALL\n".join(parts)


Q_TABLE_PROFILE_SQL = _profile_oracle_sql()


# ---------------------------------------------------------------------------
# Boilerplate-prefix detection: group documents by their leading token
# prefix (C4-style boilerplate/header detection — repeated openings are
# the canonical sign of templated or mirrored pages).  One groupBy on a
# bounded key space (vocab^PREFIX_LEN); no skew mitigation needed
# because group count, not group size, is what explodes on web corpora
# — and group SIZE feeds only count/sum partials.
# ---------------------------------------------------------------------------

PREFIX_LEN = 2
PREFIX_MIN_DOCS = 2


def q_boilerplate_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    d = documents.where(F.size(toks) >= PREFIX_LEN).select(
        "doc_id",
        "lang",
        "n_chars",
        F.concat_ws(" ", F.slice(toks, 1, PREFIX_LEN)).alias("prefix"),
    )
    return (
        d.groupBy("prefix")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("lang").alias("n_langs"),
            F.min("doc_id").alias("min_doc_id"),
            F.sum("n_chars").alias("total_chars"),
        )
        .where(F.col("n_docs") >= PREFIX_MIN_DOCS)
    )


Q_BOILERPLATE_PREFIXES_SQL = f"""
WITH d AS (
  SELECT doc_id, lang, n_chars,
         array_to_string(list_slice({SQL_TOKS}, 1, {PREFIX_LEN}), ' ')
           AS prefix
  FROM documents
  WHERE len({SQL_TOKS}) >= {PREFIX_LEN}
)
SELECT prefix, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       MIN(doc_id) AS min_doc_id,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM d GROUP BY prefix
HAVING COUNT(*) >= {PREFIX_MIN_DOCS}
"""


# ---------------------------------------------------------------------------
# Lexical diversity: per-document type-token ratio and Gini–Simpson
# diversity (1 - sum(c_i^2)/n^2), aggregated per language — a
# repetitiveness / quality signal next to repetition_stats.  Every
# per-doc value is an exact rational of integer counts (identical
# doubles on both engines); per-language means go round-to-6-digits ->
# DECIMAL so the sums are associative and engine-exact.
# ---------------------------------------------------------------------------

LOW_DIVERSITY = 0.90


def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    toks = documents.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("term")
    )
    counts = toks.groupBy("doc_id", "lang", "term").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_doc = counts.groupBy("doc_id", "lang").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("c") * F.col("c")).alias("sum_sq"),
    )
    gini = F.lit(1.0) - F.col("sum_sq").cast("double") / (
        F.col("n") * F.col("n")
    ).cast("double")
    ttr = F.col("n_types").cast("double") / F.col("n").cast("double")
    scored = per_doc.select(
        "lang",
        (F.round((gini) * F.lit(1e6), 0) / F.lit(1e6)).alias("gini_r"),
        (F.round((ttr) * F.lit(1e6), 0) / F.lit(1e6)).alias("ttr_r"),
        (gini < F.lit(LOW_DIVERSITY)).cast("bigint").alias("is_low"),
    )
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.round((F.sum(F.col("gini_r").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)).cast("double")) * F.lit(1e6), 0) / F.lit(1e6)).alias("avg_gini"),
        (F.round((F.sum(F.col("ttr_r").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)).cast("double")) * F.lit(1e6), 0) / F.lit(1e6)).alias("avg_ttr"),
        F.sum("is_low").alias("n_low_diversity"),
    )


Q_LEXICAL_DIVERSITY_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, unnest({SQL_TOKS}) AS term FROM documents
),
counts AS (
  SELECT doc_id, lang, term, COUNT(*) AS c
  FROM toks GROUP BY doc_id, lang, term
),
per_doc AS (
  SELECT doc_id, lang, SUM(c) AS n, COUNT(*) AS n_types,
         SUM(c * c) AS sum_sq
  FROM counts GROUP BY doc_id, lang
),
scored AS (
  SELECT lang,
         ROUND((1.0 - CAST(sum_sq AS DOUBLE) / CAST(n * n AS DOUBLE)) * 1e6, 0) / 1e6
           AS gini_r,
         ROUND((CAST(n_types AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6, 0) / 1e6 AS ttr_r,
         CASE WHEN 1.0 - CAST(sum_sq AS DOUBLE) / CAST(n * n AS DOUBLE)
                   < {LOW_DIVERSITY} THEN 1 ELSE 0 END AS is_low
  FROM per_doc
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND((CAST(SUM(CAST(gini_r AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE)) * 1e6, 0) / 1e6 AS avg_gini,
       ROUND((CAST(SUM(CAST(ttr_r AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE)) * 1e6, 0) / 1e6 AS avg_ttr,
       CAST(SUM(is_low) AS BIGINT) AS n_low_diversity
FROM scored GROUP BY lang
"""


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup): nearest-centroid cells bound the pairwise
# cosine work; within a cell, any vector with a lower-id neighbor at
# rounded cosine >= tau is dropped.  The oracle replays the ENTIRE
# pipeline — decimal-stabilized centroids, projection argmin
# assignment, left-fold cosines — so keep/drop decisions are
# hash-exact, not approximately similar.  operators/semdedup.py has
# the scale rationale (cells bound pairs at O(sum cell^2)).
# ---------------------------------------------------------------------------

# The driver's synthetic embeddings are near-orthogonal (max within-
# cell cosine ~0.45), so a production-style 0.9 threshold would drop
# nothing and demonstrate nothing; 0.3 sits inside the corpus's top
# similarity tail so the min-id survivor rule visibly fires.  Real
# corpora use 0.9+.
SEMDEDUP_TAU = 0.3
_SD_DIM = 64


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    (embeddings,) = load_testdata(spark, sf_dir, "embeddings")
    # The same decimal-stabilized centroid table ann_ivf_topk probes.
    cents = label_centroids_rows(spark, sf_dir, _SD_DIM)
    return semdedup_profile(embeddings, cents, SEMDEDUP_TAU)


def _semantic_dedup_sql() -> str:
    l2sq = FOLD_SUM.format(
        terms=(
            "list_transform(range(1, len(e.vec) + 1), "
            "j -> (e.vec[j] - c.centroid[j]) * (e.vec[j] - c.centroid[j]))"
        )
    )
    dot = FOLD_SUM.format(
        terms="list_transform(range(1, len(a.vec) + 1), i -> a.vec[i] * b.vec[i])"
    )
    nrm = "sqrt(" + FOLD_SUM.format(terms="list_transform(e.vec, v -> v * v)") + ")"
    return f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
cdim AS (
  SELECT label AS cell_id, dim,
         ROUND((CAST(SUM(CAST(val AS DECIMAL(20,10))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE)) * 1e8, 0) / 1e8 AS cval
  FROM (
    SELECT label, pos AS dim, vec[pos] AS val
    FROM (SELECT label, embedding::DOUBLE[] AS vec,
                 unnest(range(1, len(embedding) + 1)) AS pos
          FROM embeddings)
  )
  GROUP BY cell_id, dim
),
cent AS (
  SELECT cell_id, list(cval ORDER BY dim) AS centroid FROM cdim GROUP BY cell_id
),
assigned AS (
  SELECT vec_id, cell_id FROM (
    SELECT e.vec_id, c.cell_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {l2sq}, c.cell_id) AS rn
    FROM emb e CROSS JOIN cent c
  ) WHERE rn = 1
),
v AS (
  SELECT asg.vec_id, asg.cell_id, e.vec, {nrm} AS nrm
  FROM assigned asg JOIN emb e ON asg.vec_id = e.vec_id
),
pairs AS (
  SELECT a.cell_id, b.vec_id AS b_id,
         ROUND((CASE WHEN a.nrm * b.nrm > 0
                    THEN {dot} / (a.nrm * b.nrm) ELSE 0.0 END) * 1e6, 0) / 1e6 AS cosine
  FROM v a JOIN v b
    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
),
drops AS (
  SELECT DISTINCT b_id AS vec_id FROM pairs WHERE cosine >= {SEMDEDUP_TAU}
),
surv AS (
  SELECT s.vec_id, s.cell_id FROM assigned s
  WHERE NOT EXISTS (SELECT 1 FROM drops d WHERE d.vec_id = s.vec_id)
),
totals AS (
  SELECT cell_id, CAST(COUNT(*) AS BIGINT) AS n_vecs
  FROM assigned GROUP BY cell_id
),
kept AS (
  SELECT cell_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         MIN(vec_id) AS min_kept_id
  FROM surv GROUP BY cell_id
)
SELECT t.cell_id, t.n_vecs,
       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(t.n_vecs - COALESCE(k.n_kept, 0) AS BIGINT) AS n_dropped,
       k.min_kept_id
FROM totals t LEFT JOIN kept k ON t.cell_id = k.cell_id
"""


Q_SEMANTIC_DEDUP_SQL = _semantic_dedup_sql()


# ---------------------------------------------------------------------------
# Document chunking: overlapping fixed-size token windows (chunk 32,
# stride 24 — 25% overlap), the sequence-prep step before packing.
# The registry form emits (doc_id, chunk_id, n_toks, md5(chunk_text))
# so the gate hash-verifies every chunk's exact content without
# shipping the text twice.  operators/chunking.py is the reusable op.
# ---------------------------------------------------------------------------

CHUNK_SIZE = 32
CHUNK_STRIDE = 24


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    chunks = chunk_documents(
        documents, chunk_size=CHUNK_SIZE, stride=CHUNK_STRIDE
    )
    return chunks.select(
        "doc_id",
        "chunk_id",
        F.col("n_toks").cast("bigint").alias("n_toks"),
        F.md5("chunk_text").alias("chunk_hash"),
    )


Q_DOC_CHUNKS_SQL = f"""
WITH d AS (
  SELECT doc_id, {SQL_TOKS} AS toks FROM documents
),
nz AS (
  SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0
),
c AS (
  SELECT doc_id, toks,
         unnest(range(0, (CASE WHEN n <= {CHUNK_SIZE} THEN 0
                          ELSE (n - {CHUNK_SIZE} + {CHUNK_STRIDE} - 1)
                               // {CHUNK_STRIDE} END) + 1)) AS chunk_id
  FROM nz
)
SELECT doc_id, chunk_id,
       CAST(len(list_slice(toks, chunk_id * {CHUNK_STRIDE} + 1,
                           chunk_id * {CHUNK_STRIDE} + {CHUNK_SIZE}))
            AS BIGINT) AS n_toks,
       md5(array_to_string(
             list_slice(toks, chunk_id * {CHUNK_STRIDE} + 1,
                        chunk_id * {CHUNK_STRIDE} + {CHUNK_SIZE}), ' '))
         AS chunk_hash
FROM c
"""


# ---------------------------------------------------------------------------
# Quality-weighted resampling: keep each document with probability
# p = quality_score^2 (temperature-2 upweighting of high-quality text —
# the FineWeb/DCLM-style step between scoring and training-set
# assembly), decided DETERMINISTICALLY by the same portable hash slot
# as train_split: keep iff slot(doc_id) < p * MOD.  Pure projection +
# one aggregation; membership is repartition-invariant and replayable
# on any engine (slot and p are both exact doubles).  The realized keep
# rate is reported next to the expected rate (decimal-mean of p) so
# drift is visible in the output itself.
# ---------------------------------------------------------------------------


def q_quality_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    score = quality_score(F.col("text"))
    scored = documents.select(
        "source",
        "doc_id",
        score.alias("score"),
        (score * score).alias("p"),
    )
    kept = (
        split_slot(F.col("doc_id")).cast("double")
        < F.col("p") * F.lit(float(MOD))
    ).cast("bigint")
    flagged = scored.withColumn("kept", kept)
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("kept").alias("n_kept"),
        (F.round((F.sum(F.col("p").cast("decimal(18,12)")).cast("double")
            / F.count(F.lit(1)).cast("double")) * F.lit(1e6), 0) / F.lit(1e6)).alias("expected_rate"),
        F.when(
            F.sum("kept") > 0,
            (F.round((F.sum(
                    F.when(
                        F.col("kept") == 1, F.col("score").cast("decimal(18,12)")
                    ).otherwise(F.lit(0).cast("decimal(18,12)"))
                ).cast("double")
                / F.sum("kept").cast("double")) * F.lit(1e6), 0) / F.lit(1e6)),
        ).alias("avg_kept_score"),
    )


def _quality_resample_sql() -> str:
    slot = sql_split_slot("doc_id")
    return f"""
WITH scored AS (
  SELECT source, doc_id, {QS_SCORE} AS score,
         {QS_SCORE} * {QS_SCORE} AS p
  FROM documents
),
flagged AS (
  SELECT source, score, p,
         CASE WHEN CAST({slot} AS DOUBLE) < p * CAST({MOD} AS DOUBLE)
              THEN 1 ELSE 0 END AS kept
  FROM scored
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(kept) AS BIGINT) AS n_kept,
       ROUND((CAST(SUM(CAST(p AS DECIMAL(18,12))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE)) * 1e6, 0) / 1e6 AS expected_rate,
       CASE WHEN SUM(kept) > 0 THEN
         ROUND((CAST(SUM(CASE WHEN kept = 1
                             THEN CAST(score AS DECIMAL(18,12))
                             ELSE CAST(0 AS DECIMAL(18,12)) END) AS DOUBLE)
               / CAST(SUM(kept) AS DOUBLE)) * 1e6, 0) / 1e6
       END AS avg_kept_score
FROM flagged GROUP BY source
"""


Q_QUALITY_RESAMPLE_SQL = _quality_resample_sql()


# ---------------------------------------------------------------------------
# Event-type transition matrix: per-user consecutive event pairs
# (deterministic (ts, event_id) order) counted into a Markov transition
# profile — the sequence-modeling prep step for behavioral data.  One
# window shuffle on user_id, one small aggregation; the probability is
# an exact integer rational (count / row-total), rounded only at the
# output column.
# ---------------------------------------------------------------------------


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .where(F.col("prev_type").isNotNull())
        .select("prev_type", "event_type")
    )
    counts = pairs.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    # The transition matrix is |types|^2 rows — broadcast-class — so a
    # per-row window over it is fine at any corpus scale (the heavy
    # lifting happened in the groupBy above).
    total_w = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "event_type",
        "n",
        (F.round((F.col("n").cast("double") / F.sum("n").over(total_w).cast("double")) * F.lit(1e6), 0) / F.lit(1e6)).alias("p"),
    )


Q_EVENT_TRANSITIONS_SQL = """
WITH e AS (
  SELECT user_id, epoch_ns(ts) AS tns, event_id, event_type FROM events
),
pairs AS (
  SELECT prev_type, event_type FROM (
    SELECT user_id, event_type,
           LAG(event_type) OVER (PARTITION BY user_id
                                 ORDER BY tns, event_id) AS prev_type
    FROM e
  ) WHERE prev_type IS NOT NULL
),
counts AS (
  SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs GROUP BY prev_type, event_type
)
SELECT prev_type, event_type, n,
       ROUND((CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE)) * 1e6, 0) / 1e6 AS p
FROM counts
"""


# ---------------------------------------------------------------------------
# Approximate distinct profile: HyperLogLog++ distinct counts per
# event_type.  The raw HLL estimates cannot be hash-matched against
# another engine (DuckDB's approx_count_distinct is a different HLL
# implementation), so the driver-checkable contract is:
#   * exact COUNT(DISTINCT) columns the oracle hash-matches bit-for-bit
#   * boolean |approx - exact| / exact <= 2.5% bound columns that are
#     TRUE under Spark's rsd=0.02 sketch and literal TRUE in the oracle
# — a wrong exact count OR an out-of-tolerance sketch both flip the
# hash.  At 100 TB you run the HLL aggregation only (one pass, fixed
# 2^p-register state per group, no distinct-agg Expand blowup); the
# exact twin here is the verification harness, not the production plan.
#
# Plan shape: the exact and approx sides are SEPARATE aggregations
# joined broadcast on the group key.  Folding all five aggregates into
# one groupBy makes Spark route the HLL updates through the
# multi-distinct Expand (×3 rows through 2^p-register sketches) —
# measured 4.6 s vs 0.8 s for the split form at sf0.1.
# ---------------------------------------------------------------------------

APPROX_DISTINCT_TOL = 0.025


def q_approx_distinct_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    tol = F.lit(APPROX_DISTINCT_TOL)
    exact = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("exact_users"),
        F.count_distinct("value").alias("exact_values"),
    )
    approx = events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("_au"),
        F.approx_count_distinct("value", rsd=0.02).alias("_av"),
    )
    out = exact.join(F.broadcast(approx), "event_type")
    def _ok(approx_col, exact_col):
        return (
            F.abs(F.col(approx_col) - F.col(exact_col))
            / F.greatest(F.col(exact_col).cast("double"), F.lit(1.0))
            <= tol
        )
    return out.select(
        "event_type",
        "n_events",
        "exact_users",
        "exact_values",
        _ok("_au", "exact_users").alias("approx_users_ok"),
        _ok("_av", "exact_values").alias("approx_values_ok"),
    )


Q_APPROX_DISTINCT_PROFILE_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT)              AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(COUNT(DISTINCT value)  AS BIGINT) AS exact_values,
       TRUE AS approx_users_ok,
       TRUE AS approx_values_ok
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Vocabulary coverage: induce a top-V vocabulary from global token
# counts (integer rank, deterministic tie-break) and measure each
# language's out-of-vocabulary token rate against it — the
# tokenizer-design feedback loop.  The vocab rank reuses the salted
# two-phase top-k (vocabulary-scale safe); coverage is one broadcast
# semi-join flag over the token stream.  OOV rate is an exact integer
# rational.
# ---------------------------------------------------------------------------

VOCAB_V = 10
VOCAB_SALT = 16


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    toks = documents.select(
        "lang", F.explode(tokens(F.col("text"))).alias("term")
    )
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    salted = counts.withColumn("_salt", F.pmod(F.hash("term"), F.lit(VOCAB_SALT)))
    local = salted.groupBy("_salt").agg(
        F.slice(
            F.sort_array(
                F.collect_list(F.struct((-F.col("n")).alias("neg_n"), "term"))
            ),
            1,
            VOCAB_V,
        ).alias("top")
    )
    survivors = local.select(F.explode("top").alias("s")).select(
        F.col("s.term").alias("term"), (-F.col("s.neg_n")).alias("n")
    )
    w = Window.orderBy(F.desc("n"), F.asc("term"))
    vocab = (
        survivors.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= VOCAB_V)
        .select("term")
    )
    flagged = toks.join(
        F.broadcast(vocab.withColumn("_in", F.lit(1))), "term", "left"
    )
    return flagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0)).alias("n_oov"),
        (F.round((F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double")) * F.lit(1e6), 0) / F.lit(1e6)).alias("oov_rate"),
    )


Q_VOCAB_COVERAGE_SQL = f"""
WITH toks AS (
  SELECT lang, unnest({SQL_TOKS}) AS term FROM documents
),
counts AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY term
),
vocab AS (
  SELECT term FROM (
    SELECT term, ROW_NUMBER() OVER (ORDER BY n DESC, term ASC) AS rk
    FROM counts
  ) WHERE rk <= {VOCAB_V}
)
SELECT t.lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       ROUND((CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE)) * 1e6, 0) / 1e6 AS oov_rate
FROM toks t LEFT JOIN vocab v ON t.term = v.term
GROUP BY t.lang
"""


# ---------------------------------------------------------------------------
# Semantic decontamination: flag corpus vectors whose cosine to ANY
# benchmark vector reaches tau — the embedding-space complement of the
# shingle-containment decontamination operator.  The benchmark set is
# broadcast-class by definition, so the max-similarity test is a PURE
# PROJECTION (a greatest() chain over per-benchmark fold cosines —
# same plan family as the IVF cell argmin): no join, no shuffle, scan
# cost linear in the corpus.  The oracle computes the same cosines via
# a 20-row cross join and MAX — a different plan, the identical
# doubles.
# ---------------------------------------------------------------------------

SEMDECON_TAU = 0.3  # inside this corpus's similarity tail (see SEMDEDUP_TAU)
SEMDECON_BENCH_N = 20  # vec_id < 20 plays the benchmark set


def q_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    (embeddings,) = load_testdata(spark, sf_dir, "embeddings")
    bench = sorted(
        embeddings.where(F.col("vec_id") < SEMDECON_BENCH_N)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("vec"))
        .collect(),
        key=lambda r: r["vec_id"],
    )
    corpus = embeddings.where(F.col("vec_id") >= SEMDECON_BENCH_N).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("vec")
    )
    # Corpus norm hoisted to ONE attribute: it appears in every one of
    # the |benchmark| cosine denominators below (same arithmetic, same
    # fold — only computed once per row instead of once per pair).
    corpus = corpus.withColumn("_n", l2_norm(F.col("vec")))
    # The per-benchmark cosines are SQL-PARSED (round-12): the Column
    # form built |bench| zip_with/aggregate lambda trees one py4j
    # command at a time — 1.9 s of plan construction (PLAN_AUDIT build
    # column); one parsed greatest() over the same |bench| fold texts
    # is a single round trip.  The expression TREE is unchanged: the
    # same zip_with product lambda (with its per-element DOUBLE
    # casts), the same CAST(0 AS DOUBLE) seed and acc + v fold, the
    # benchmark vector as D-suffixed repr literals (bit-identical via
    # Double.parseDouble to the old lit_double_array doubles), the
    # same when(denom > 0)/otherwise(0.0) guard as a CASE, and the
    # same greatest().  (A fully UNROLLED per-element chain was
    # measured SLOWER — round-12 probe 1.5 → 2.9 s median — analysis/
    # codegen of ~1300 terms outweighs interpreted-fold eval on a
    # 2000-row corpus.)
    cos_texts = []
    for r in bench:
        bn = sum(v * v for v in r["vec"]) ** 0.5
        denom = f"(_n * {_d(float(bn))})"
        blit = "array(" + ", ".join(_d(v) for v in r["vec"]) + ")"
        cos_texts.append(
            f"(CASE WHEN {denom} > 0 "
            f"THEN ({sql_dot_fold('vec', blit)} / {denom}) "
            "ELSE CAST(0 AS DOUBLE) END)"
        )
    max_sim = F.expr("greatest(" + ", ".join(cos_texts) + ")")
    scored = corpus.select("label", max_sim.alias("sim"))
    return scored.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(
            F.when((F.round((F.col("sim")) * F.lit(1e6), 0) / F.lit(1e6)) >= SEMDECON_TAU, 1).otherwise(0)
        ).alias("n_contaminated"),
        (F.round((F.max("sim")) * F.lit(1e6), 0) / F.lit(1e6)).alias("max_sim"),
    )


def _semantic_decontam_sql() -> str:
    dotexpr = FOLD_SUM.format(
        terms="list_transform(range(1, len(c.vec) + 1), i -> c.vec[i] * b.vec[i])"
    )
    ncorp = "sqrt(" + FOLD_SUM.format(terms="list_transform(c.vec, v -> v * v)") + ")"
    return f"""
WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings),
bench AS (
  SELECT vec_id, vec,
         sqrt({FOLD_SUM.format(terms="list_transform(vec, v -> v * v)")}) AS bn
  FROM emb WHERE vec_id < {SEMDECON_BENCH_N}
),
corpus AS (SELECT vec_id, label, vec FROM emb WHERE vec_id >= {SEMDECON_BENCH_N}),
sims AS (
  SELECT c.vec_id, c.label,
         MAX(CASE WHEN {ncorp} * b.bn > 0
                  THEN {dotexpr} / ({ncorp} * b.bn) ELSE 0.0 END) AS sim
  FROM corpus c CROSS JOIN bench b
  GROUP BY c.vec_id, c.label
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CASE WHEN ROUND((sim) * 1e6, 0) / 1e6 >= {SEMDECON_TAU}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       ROUND((MAX(sim)) * 1e6, 0) / 1e6 AS max_sim
FROM sims GROUP BY label
"""


Q_SEMANTIC_DECONTAM_SQL = _semantic_decontam_sql()


# ---------------------------------------------------------------------------
# Group-aware split: assign every document of a source to the SAME
# train/val/test split by hashing the GROUP key — the leakage guard for
# eval construction (near-identical docs from one domain must not
# straddle train and test).  Pure projection; fractions apportion
# groups, not rows.  The output carries the leak audit in-band:
# sources_leaked counts sources seen in more than one split and is 0
# by construction.
# ---------------------------------------------------------------------------

GROUP_SPLITS = {"train": 0.7, "val": 0.15, "test": 0.15}


def q_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    d = group_split_assign(documents, GROUP_SPLITS)
    leaked = (
        d.groupBy("source")
        .agg(F.count_distinct("split").alias("k"))
        .where(F.col("k") > 1)
        .agg(F.count(F.lit(1)).alias("sources_leaked"))
    )
    per_split = d.groupBy("split").agg(
        F.count_distinct("source").alias("n_sources"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    return per_split.crossJoin(F.broadcast(leaked))


def _group_split_sql() -> str:
    assign = sql_split_assign(sql_group_hash_mixed("source"), GROUP_SPLITS)
    return f"""
WITH d AS (
  SELECT source, n_chars, {assign} AS split FROM documents
),
leaked AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS sources_leaked FROM (
    SELECT source FROM d GROUP BY source
    HAVING COUNT(DISTINCT split) > 1
  )
)
SELECT split, CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       (SELECT sources_leaked FROM leaked) AS sources_leaked
FROM d GROUP BY split
"""


Q_GROUP_SPLIT_SQL = _group_split_sql()


# ---------------------------------------------------------------------------
# TPC-H classics adapted to this star schema: Q3 (shipping priority —
# unshipped-order revenue ranking) and Q10 (returned-item report).
# Both use the decimal-exact revenue expression of
# join_regional_revenue, broadcast dims, and a global ORDER BY + LIMIT
# final rank — which Spark plans as TakeOrderedAndProject (per-
# partition top-k + merge of k-lists on the driver), the scale-correct
# global-top-k physical form.  The LIMIT cut is engine-exact because
# the revenue doubles are identical decimal sums on both engines and
# ties break on the integer key.
# ---------------------------------------------------------------------------


SHIP_CUTOFF = "1998-01-01"
SHIP_SEGMENT = "BUILDING"


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders, lineitem = load_testdata(
        spark, sf_dir, "customer", "orders", "lineitem"
    )
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            (F.col("c_mktsegment") == SHIP_SEGMENT)
            & (F.col("o_orderdate") < SHIP_CUTOFF)
            & (F.col("l_shipdate") > SHIP_CUTOFF)
        )
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .agg(F.sum(revenue()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q_SHIPPING_PRIORITY_SQL = f"""
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       o_orderpriority,
       CAST(SUM({REVENUE_SQL}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = '{SHIP_SEGMENT}'
  AND o_orderdate < '{SHIP_CUTOFF}'
  AND l_shipdate > '{SHIP_CUTOFF}'
GROUP BY l_orderkey, order_date, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""

RETURN_Q_START = "1997-01-01"
RETURN_Q_END = "1997-04-01"


def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders, lineitem, nation = load_testdata(
        spark, sf_dir, "customer", "orders", "lineitem", "nation"
    )
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .filter(
            (F.col("l_returnflag") == "R")
            & (F.col("o_orderdate") >= RETURN_Q_START)
            & (F.col("o_orderdate") < RETURN_Q_END)
        )
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(revenue()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q_RETURNED_ITEMS_SQL = f"""
SELECT c_custkey, c_name, n_name,
       CAST(SUM({REVENUE_SQL}) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= '{RETURN_Q_START}' AND o_orderdate < '{RETURN_Q_END}'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""

# ---------------------------------------------------------------------------
# Deterministic epoch shuffle — the global reshuffle-per-epoch
# primitive of training-data assembly: every epoch must present the
# corpus in a different, REPRODUCIBLE pseudo-random order (no
# rand()/seed state, no driver-side shuffling).  Order key = quadratic
# mix of an affine blend of (doc_id, epoch): the quadratic step is
# load-bearing for the same reason as group_hash_mixed — an affine key
# alone maps consecutive doc_ids to a constant-stride progression,
# which is NOT a shuffle.  Ties (the mix is not injective mod M) break
# on doc_id.
#
# Scale shape: a naive ROW_NUMBER over PARTITION BY epoch would sort
# each epoch's ENTIRE corpus in a single task (the window hash-
# partitions on a 2-value key).  Instead the position is computed as a
# two-level range rank: the key space [0, MOD) is cut into
# EPOCH_SHUFFLE_BUCKETS contiguous fixed-width ranges (the key is a
# quadratic hash mix, so occupancy is near-uniform — same argument as
# the interval bucket join), each (epoch, bucket) sorts locally in
# parallel, and a tiny per-bucket count aggregate (2×NB rows,
# broadcast back) supplies the prefix offsets.  pos = offset + local
# rank is bit-identical to the global ROW_NUMBER because buckets are
# contiguous in k and ties (k, doc_id) never straddle a bucket.  This
# is the repartitionByRange + sortWithinPartitions + partition-offset
# shape a 100 TB epoch writer pays, in its verifiable DataFrame form.
# All int64 arithmetic: engine-exact, repartition-invariant.
# ---------------------------------------------------------------------------

SHUFFLE_EPOCHS = 2
EPOCH_STRIDE = 7_654_321
EPOCH_SHUFFLE_BUCKETS = 32


def _shuffle_key(doc_id: Column, epoch: Column) -> Column:
    r = F.pmod(
        F.pmod(doc_id.cast("long"), F.lit(MOD)) * F.lit(SPLIT_A)
        + epoch.cast("long") * F.lit(EPOCH_STRIDE)
        + F.lit(SPLIT_B),
        F.lit(MOD),
    )
    return F.pmod(r * r + r, F.lit(MOD))


def epoch_shuffle_positions(documents: DataFrame) -> DataFrame:
    """Deterministic per-epoch shuffle positions (:data:`SHUFFLE_EPOCHS`
    epochs) for any frame with a ``doc_id`` column — the two-level range
    rank described above, exposed as a reusable operator (the registry
    query and the 20× scale smoke both call this)."""
    # Epoch replication as a pure projection (explode of a literal
    # sequence) — no join of any kind, each task emits its own rows.
    epochs = documents.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0).cast("int"), F.lit(SHUFFLE_EPOCHS - 1).cast("int")
            )
        ).alias("epoch"),
    )
    keyed = epochs.select(
        "epoch", "doc_id", _shuffle_key(F.col("doc_id"), F.col("epoch")).alias("k")
    )
    # Two-level range rank (see block comment above): contiguous
    # fixed-width key buckets sort in parallel; prefix offsets come from
    # a broadcast-sized per-bucket count.
    width = (MOD + EPOCH_SHUFFLE_BUCKETS - 1) // EPOCH_SHUFFLE_BUCKETS
    keyed = keyed.withColumn("bucket", (F.col("k") / F.lit(width)).cast("int"))
    local = keyed.withColumn(
        "local_pos",
        F.row_number().over(
            Window.partitionBy("epoch", "bucket").orderBy("k", "doc_id")
        ),
    )
    offsets = (
        keyed.groupBy("epoch", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("n").over(
                    Window.partitionBy("epoch")
                    .orderBy("bucket")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("epoch", "bucket", "offset")
    )
    return local.join(F.broadcast(offsets), ["epoch", "bucket"]).select(
        "epoch",
        "doc_id",
        (F.col("offset") + F.col("local_pos")).cast("int").alias("pos"),
    )


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    return epoch_shuffle_positions(documents)


def _epoch_shuffle_sql() -> str:
    m = f"CAST({MOD} AS BIGINT)"
    blend = (
        f"(((CAST(doc_id AS BIGINT) % {m} + {m}) % {m}) * {SPLIT_A} "
        f"+ CAST(epoch AS BIGINT) * {EPOCH_STRIDE} + {SPLIT_B})"
    )
    r = f"(({blend} % {m} + {m}) % {m})"
    key = f"((({r} * {r} + {r}) % {m} + {m}) % {m})"
    return f"""
WITH e AS (
  SELECT doc_id, CAST(epoch AS INTEGER) AS epoch
  FROM documents CROSS JOIN (SELECT UNNEST(range({SHUFFLE_EPOCHS})) AS epoch)
),
k AS (SELECT epoch, doc_id, {key} AS k FROM e)
SELECT epoch, doc_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY k, doc_id) AS BIGINT)
         AS pos
FROM k
"""


Q_EPOCH_SHUFFLE_SQL = _epoch_shuffle_sql()


QUERIES = {
    "interval_overlap_join": q_interval_overlap_join,
    "gap_fill_resample": q_gap_fill_resample,
    "table_profile": q_table_profile,
    "boilerplate_prefixes": q_boilerplate_prefixes,
    "lexical_diversity": q_lexical_diversity,
    "semantic_dedup": q_semantic_dedup,
    "doc_chunks": q_doc_chunks,
    "quality_resample": q_quality_resample,
    "event_transitions": q_event_transitions,
    "approx_distinct_profile": q_approx_distinct_profile,
    "vocab_coverage": q_vocab_coverage,
    "semantic_decontam": q_semantic_decontam,
    "group_split": q_group_split,
    "shipping_priority": q_shipping_priority,
    "returned_items": q_returned_items,
    "epoch_shuffle": q_epoch_shuffle,
}

ORACLE_SQL = {
    "interval_overlap_join": Q_INTERVAL_OVERLAP_JOIN_SQL,
    "gap_fill_resample": Q_GAP_FILL_RESAMPLE_SQL,
    "table_profile": Q_TABLE_PROFILE_SQL,
    "boilerplate_prefixes": Q_BOILERPLATE_PREFIXES_SQL,
    "lexical_diversity": Q_LEXICAL_DIVERSITY_SQL,
    "semantic_dedup": Q_SEMANTIC_DEDUP_SQL,
    "doc_chunks": Q_DOC_CHUNKS_SQL,
    "quality_resample": Q_QUALITY_RESAMPLE_SQL,
    "event_transitions": Q_EVENT_TRANSITIONS_SQL,
    "approx_distinct_profile": Q_APPROX_DISTINCT_PROFILE_SQL,
    "vocab_coverage": Q_VOCAB_COVERAGE_SQL,
    "semantic_decontam": Q_SEMANTIC_DECONTAM_SQL,
    "group_split": Q_GROUP_SPLIT_SQL,
    "shipping_priority": Q_SHIPPING_PRIORITY_SQL,
    "returned_items": Q_RETURNED_ITEMS_SQL,
    "epoch_shuffle": Q_EPOCH_SHUFFLE_SQL,
}
