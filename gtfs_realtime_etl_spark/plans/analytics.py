"""Corpus- and event-analytics registry extensions.

Second bank of oracle-gated queries (merged into
``plans.queries.QUERIES`` / ``ORACLE_SQL``): the document-corpus
operators a pre-training pipeline runs beyond dedup (TF-IDF vocabulary
profiling, exact n-gram duplicate-span statistics à la "Deduplicating
Training Data Makes Language Models Better", deterministic output
sharding, edit-distance verification, length histograms) and the
event-stream analytics battery (funnel conversion, weekly retention
cohorts, time-range rolling windows, rate-anomaly detection).

Cross-engine determinism follows the same rules as ``plans.base``:
integer arithmetic everywhere ranking happens, DECIMAL-stabilized sums
for means, fixed round-to-6-digits on float outputs, and explicit
tie-breaks on every top-k.  ``events.ts`` is the loader-normalized
nanoseconds bigint on the Spark side and ``epoch_ns(ts)`` on the DuckDB
side (see sources/testdata.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.functions.text import tokens
from gtfs_realtime_etl_spark.operators.cdc import merge_upsert
from gtfs_realtime_etl_spark.operators.incremental import (
    finalize,
    merge_partials,
    partial_aggregate,
)
from gtfs_realtime_etl_spark.operators.splits import (
    cap_per_group,
    split_slot,
    sql_cap_per_group_pred,
    sql_split_slot,
)
from gtfs_realtime_etl_spark.plans.base import (
    NS_PER_DAY,
    NS_PER_HOUR,
    SQL_TOKS,
    dsum,
    dsum_sql,
)
from gtfs_realtime_etl_spark.sources.testdata import load_testdata


# ---------------------------------------------------------------------------
# TF-IDF vocabulary profile: per-language top-k terms by document
# frequency, with the IDF each would contribute.  Ranking is pure
# integer (doc_freq desc, term asc) so it is engine-exact; ln() appears
# only in round-to-6-digit output columns.
#
# Scale shape: term space grows with vocabulary (100M+ tokens on web
# corpora), so the final per-language rank uses the same salted
# two-phase top-k as q_top_bigrams — local top-k per (lang, salt)
# bucket, final rank over ≤ salt·k survivors — never a single-partition
# window over a language's whole vocabulary.
# ---------------------------------------------------------------------------

TFIDF_K = 5
TFIDF_SALT = 16


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    terms = documents.select(
        "lang",
        F.explode(F.array_distinct(tokens(F.col("text")))).alias("term"),
    )
    df_counts = terms.groupBy("lang", "term").agg(
        F.count(F.lit(1)).alias("doc_freq")
    )
    n_docs = documents.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))

    salted = df_counts.withColumn(
        "_salt", F.pmod(F.hash("term"), F.lit(TFIDF_SALT))
    )
    local_topk = (
        salted.groupBy("lang", "_salt")
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(
                        F.struct((-F.col("doc_freq")).alias("neg_df"), "term")
                    )
                ),
                1,
                TFIDF_K,
            ).alias("cand")
        )
        .select("lang", F.explode("cand").alias("c"))
        .select(
            "lang",
            F.col("c.term").alias("term"),
            (-F.col("c.neg_df")).alias("doc_freq"),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.desc("doc_freq"), F.asc("term"))
    ranked = (
        local_topk.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TFIDF_K)
    )
    return ranked.join(F.broadcast(n_docs), "lang").select(
        "lang",
        "term",
        "doc_freq",
        "rk",
        (F.round((F.log(
                (F.col("n_docs") + F.lit(1)).cast("double")
                / (F.col("doc_freq") + F.lit(1)).cast("double")
            )) * F.lit(1e6), 0) / F.lit(1e6)).alias("idf"),
    )


Q_TFIDF_TOP_TERMS_SQL = f"""
WITH toks AS (SELECT lang, {SQL_TOKS} AS t FROM documents),
terms AS (SELECT lang, unnest(list_distinct(t)) AS term FROM toks),
df AS (SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS doc_freq
       FROM terms GROUP BY lang, term),
nd AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
       FROM documents GROUP BY lang),
ranked AS (
  SELECT lang, term, doc_freq,
         CAST(row_number() OVER (PARTITION BY lang
                                 ORDER BY doc_freq DESC, term ASC) AS INT) AS rk
  FROM df
)
SELECT r.lang, r.term, r.doc_freq, r.rk,
       ROUND((ln(CAST(n.n_docs + 1 AS DOUBLE) / CAST(r.doc_freq + 1 AS DOUBLE))) * 1e6, 0) / 1e6 AS idf
FROM ranked r JOIN nd n USING (lang)
WHERE r.rk <= {TFIDF_K}
"""


# ---------------------------------------------------------------------------
# Exact n-gram duplicate-span statistics (Lee et al. 2022's exact
# substring dedup, profiled at token-5-gram granularity): the fraction
# of each document's 5-gram positions whose gram also appears in
# ANOTHER document.  Two shuffles total: (1) per-doc distinct grams →
# global gram → doc-count, (2) positions ⋈ duplicated-gram set →
# per-source profile.  Grams are grouped by their string here (the
# corpus is small); the production path at 100 TB hashes grams to i64
# first (functions/hashing.token_hash64) so shuffle rows are fixed
# width — same plan shape.
# ---------------------------------------------------------------------------

NGRAM_N = 5
NGRAM_FLAG = 0.5


def _fivegrams(toks):
    # Chained zip_with over shifted slices: O(n) array work per doc.
    # (The obvious transform(sequence(1, n-4), i -> concat_ws(slice))
    # re-slices the token array per position — O(n²) allocation — and
    # measured ~20× slower on the sf0.1 corpus.)
    n = F.size(toks)
    m = n - F.lit(NGRAM_N - 1)
    g = F.slice(toks, 1, m)
    for off in range(1, NGRAM_N):
        g = F.zip_with(
            g,
            F.slice(toks, off + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(n >= NGRAM_N, g).otherwise(F.array().cast("array<string>"))


def q_ngram_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    # One pass over the exploded grams — the heavy lineage (tokenize +
    # gram build + explode) runs exactly once; a reuse via self-join
    # would recompute it per branch.  Grams group by a 64-bit hash, not
    # the gram string, so every shuffle row is fixed-width (the oracle
    # groups by the string itself; a cross-doc xxhash64 collision on
    # same-count grams is the only divergence and is ~2^-64·n² ≈ 0).
    ex = documents.select(
        "doc_id",
        "source",
        F.explode(_fivegrams(tokens(F.col("text")))).alias("gram"),
    ).select("doc_id", "source", F.xxhash64("gram").alias("gh"))

    # shuffle 1: per-(doc, gram) occurrence counts.
    per_doc_gram = ex.groupBy("doc_id", "source", "gh").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # shuffle 2: cross-doc frequency of each gram (unbounded count over
    # the gram partition — one row per distinct (doc, gram), bounded by
    # docs-containing-the-gram; a pathological universal gram is a skew
    # key and would be salted at 100 TB).
    w = Window.partitionBy("gh")
    flagged = per_doc_gram.withColumn("n_docs_with", F.count(F.lit(1)).over(w))
    # shuffle 3: per-doc duplicated-position fraction.
    per_doc = flagged.groupBy("doc_id", "source").agg(
        (
            F.sum(
                F.when(F.col("n_docs_with") >= 2, F.col("cnt")).otherwise(
                    F.lit(0)
                )
            ).cast("double")
            / F.sum("cnt").cast("double")
        ).alias("frac")
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.round((F.sum(F.col("frac").cast("decimal(18,12)")).cast("double")
            / F.count(F.lit(1)).cast("double")) * F.lit(1e6), 0) / F.lit(1e6)).alias("avg_dup_frac"),
        (F.round((F.max("frac")) * F.lit(1e6), 0) / F.lit(1e6)).alias("max_dup_frac"),
        F.sum(
            F.when(F.col("frac") >= NGRAM_FLAG, F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias("n_flagged"),
    )


Q_NGRAM_DUP_SPANS_SQL = f"""
WITH toks AS (SELECT doc_id, source, {SQL_TOKS} AS t FROM documents),
g AS (
  SELECT doc_id, source,
         list_transform(range(1, len(t) - {NGRAM_N - 2}),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                             || ' ' || t[i+3] || ' ' || t[i+4]) AS grams
  FROM toks WHERE len(t) >= {NGRAM_N}
),
gram_docs AS (SELECT doc_id, unnest(list_distinct(grams)) AS gram FROM g),
dup AS (SELECT gram FROM gram_docs GROUP BY gram HAVING COUNT(*) >= 2),
pos AS (SELECT doc_id, unnest(grams) AS gram FROM g),
dup_pos AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup
  FROM pos JOIN dup USING (gram) GROUP BY doc_id
),
per AS (
  SELECT g.source,
         CAST(COALESCE(d.n_dup, 0) AS DOUBLE)
           / CAST(len(g.grams) AS DOUBLE) AS frac
  FROM g LEFT JOIN dup_pos d USING (doc_id)
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND((CAST(SUM(CAST(frac AS DECIMAL(18,12))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE)) * 1e6, 0) / 1e6 AS avg_dup_frac,
       ROUND((MAX(frac)) * 1e6, 0) / 1e6 AS max_dup_frac,
       CAST(SUM(CASE WHEN frac >= {NGRAM_FLAG} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged
FROM per GROUP BY source
"""


# ---------------------------------------------------------------------------
# Deterministic output sharding: the "write the corpus as N stable
# shards" step before tokenizer/trainer handoff.  Shard id is the same
# affine hash-slot as train_split (pure projection, repartition-
# invariant, engine-exact); at scale the query becomes
# ``df.repartition(N, shard).write`` and this profile is its audit.
# ---------------------------------------------------------------------------

N_SHARDS = 16


def q_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    shard = F.pmod(split_slot(F.col("doc_id")), F.lit(N_SHARDS))
    return (
        documents.select(shard.alias("shard"), "doc_id", "n_chars")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


Q_SHARD_ASSIGNMENT_SQL = f"""
SELECT ({sql_split_slot("doc_id")}) % {N_SHARDS} AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc_id
FROM documents GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Document length histogram: fixed-width buckets over n_chars — the
# one-pass corpus profile that sizes context-packing and truncation
# decisions.  Integer bucket arithmetic; mean is decimal-stabilized.
# ---------------------------------------------------------------------------

HIST_WIDTH = 50
HIST_MAX_BUCKET = 9


def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    bucket = F.least(
        (F.col("n_chars") / F.lit(HIST_WIDTH)).cast("long"),
        F.lit(HIST_MAX_BUCKET).cast("long"),
    )
    return (
        documents.select(bucket.alias("bucket"), "n_chars")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            (F.round((F.sum(F.col("n_chars").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)).cast("double")) * F.lit(1e2), 0) / F.lit(1e2)).alias("avg_chars"),
        )
    )


Q_DOC_LENGTH_HISTOGRAM_SQL = f"""
SELECT LEAST(n_chars // {HIST_WIDTH}, {HIST_MAX_BUCKET}) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars,
       ROUND((CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE)) * 1e2, 0) / 1e2 AS avg_chars
FROM documents GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Edit-distance duplicate verification: Levenshtein over banded
# candidate pairs — the precision stage after a recall-oriented
# candidate generator.  Candidates are blocked by (source, lang) and an
# n_chars band, never all-pairs; the distance runs on a fixed-length
# prefix so per-pair cost is bounded (Levenshtein is O(m·n)).  Both
# engines implement the classic DP, so distances are integer-exact.
# ---------------------------------------------------------------------------

EDIT_PREFIX = 80
EDIT_BAND = 40


def q_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    d = documents.select(
        "doc_id", "source", "lang", "n_chars",
        F.substring("text", 1, EDIT_PREFIX).alias("prefix"),
    )
    left = d.alias("a")
    right = d.alias("b")
    pairs = left.join(
        right,
        (F.col("a.source") == F.col("b.source"))
        & (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (
            F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= F.lit(EDIT_BAND)
        ),
    )
    return pairs.select(
        F.col("a.doc_id").alias("doc_id_a"),
        F.col("b.doc_id").alias("doc_id_b"),
        F.col("a.source").alias("source"),
        F.levenshtein(F.col("a.prefix"), F.col("b.prefix")).alias("edit_dist"),
    )


Q_EDIT_DISTANCE_PAIRS_SQL = f"""
WITH d AS (
  SELECT doc_id, source, lang, n_chars, substr(text, 1, {EDIT_PREFIX}) AS prefix
  FROM documents
)
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, a.source AS source,
       CAST(levenshtein(a.prefix, b.prefix) AS INT) AS edit_dist
FROM d a JOIN d b
  ON a.source = b.source AND a.lang = b.lang AND a.doc_id < b.doc_id
 AND abs(a.n_chars - b.n_chars) <= {EDIT_BAND}
"""


# ---------------------------------------------------------------------------
# Funnel conversion: view → click → purchase, strictly ordered per user
# (each stage's first event must follow the previous stage's first
# event).  Three shuffles on user_id — the canonical staged-aggregation
# funnel; integer nanosecond comparisons everywhere.
# ---------------------------------------------------------------------------

FUNNEL = ("view", "click", "purchase")


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    e = events.select("user_id", "event_type", F.col("ts").alias("tns"))

    stage1 = (
        e.filter(F.col("event_type") == FUNNEL[0])
        .groupBy("user_id")
        .agg(F.min("tns").alias("t1"))
    )
    stage2 = (
        e.join(stage1, "user_id")
        .filter((F.col("event_type") == FUNNEL[1]) & (F.col("tns") > F.col("t1")))
        .groupBy("user_id")
        .agg(F.min("tns").alias("t2"))
    )
    stage3 = (
        e.join(stage2, "user_id")
        .filter((F.col("event_type") == FUNNEL[2]) & (F.col("tns") > F.col("t2")))
        .groupBy("user_id")
        .agg(F.min("tns").alias("t3"))
    )

    n1 = stage1.agg(F.count(F.lit(1)).alias("n_users")).withColumn(
        "stage", F.lit(FUNNEL[0])
    )
    n2 = stage2.agg(F.count(F.lit(1)).alias("n_users")).withColumn(
        "stage", F.lit(FUNNEL[1])
    )
    n3 = stage3.agg(F.count(F.lit(1)).alias("n_users")).withColumn(
        "stage", F.lit(FUNNEL[2])
    )
    counts = n1.unionByName(n2).unionByName(n3)
    entry = stage1.agg(F.count(F.lit(1)).alias("n_entry"))
    return counts.crossJoin(F.broadcast(entry)).select(
        "stage",
        "n_users",
        (F.round((F.col("n_users").cast("double") / F.col("n_entry").cast("double")) * F.lit(1e6), 0) / F.lit(1e6)).alias("conversion"),
    )


Q_FUNNEL_CONVERSION_SQL = f"""
WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS tns FROM events),
s1 AS (SELECT user_id, MIN(tns) AS t1 FROM e
       WHERE event_type = '{FUNNEL[0]}' GROUP BY user_id),
s2 AS (SELECT e.user_id, MIN(tns) AS t2 FROM e JOIN s1 USING (user_id)
       WHERE event_type = '{FUNNEL[1]}' AND tns > t1 GROUP BY e.user_id),
s3 AS (SELECT e.user_id, MIN(tns) AS t3 FROM e JOIN s2 USING (user_id)
       WHERE event_type = '{FUNNEL[2]}' AND tns > t2 GROUP BY e.user_id),
counts AS (
  SELECT '{FUNNEL[0]}' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
  UNION ALL
  SELECT '{FUNNEL[1]}', CAST(COUNT(*) AS BIGINT) FROM s2
  UNION ALL
  SELECT '{FUNNEL[2]}', CAST(COUNT(*) AS BIGINT) FROM s3
)
SELECT stage, n_users,
       ROUND((CAST(n_users AS DOUBLE)
             / CAST((SELECT COUNT(*) FROM s1) AS DOUBLE)) * 1e6, 0) / 1e6 AS conversion
FROM counts
"""


# ---------------------------------------------------------------------------
# Weekly retention cohorts: users grouped by first-seen week, activity
# counted per week offset — the classic triangular retention matrix.
# All-integer calendar arithmetic on the nanosecond epoch (day = tns
# div 86400e9), so no timezone or date-function divergence is possible.
# ---------------------------------------------------------------------------


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    days = events.select(
        "user_id", F.expr(f"ts div {NS_PER_DAY}").alias("day")
    )
    first = days.groupBy("user_id").agg(F.min("day").alias("first_day"))
    active = (
        days.join(first, "user_id")
        .select(
            "user_id",
            F.expr("first_day div 7").alias("cohort_week"),
            F.expr("(day - first_day) div 7").alias("offset_week"),
        )
        .distinct()
    )
    return active.groupBy("cohort_week", "offset_week").agg(
        F.count(F.lit(1)).alias("n_users")
    )


Q_RETENTION_COHORTS_SQL = f"""
WITH days AS (
  SELECT user_id, epoch_ns(ts) // {NS_PER_DAY} AS day FROM events
),
first AS (SELECT user_id, MIN(day) AS first_day FROM days GROUP BY user_id),
active AS (
  SELECT DISTINCT d.user_id,
         first_day // 7 AS cohort_week,
         (day - first_day) // 7 AS offset_week
  FROM days d JOIN first USING (user_id)
)
SELECT cohort_week, offset_week, CAST(COUNT(*) AS BIGINT) AS n_users
FROM active GROUP BY cohort_week, offset_week
"""


# ---------------------------------------------------------------------------
# Time-range rolling window: per-user 10-minute trailing mean of
# `value` (RANGE frame over the nanosecond epoch, so duplicate
# timestamps are peers on both engines), profiled as each user's peak.
# The window sum is DECIMAL (order-independent); the division and MAX
# are identical double ops.
# ---------------------------------------------------------------------------

ROLL_NS = 600_000_000_000  # 10 minutes


def q_rolling_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    e = events.select("user_id", F.col("ts").alias("tns"), "value")
    w = (
        Window.partitionBy("user_id")
        .orderBy("tns")
        .rangeBetween(-ROLL_NS, 0)
    )
    roll = (
        F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double")
        / F.count(F.lit(1)).over(w).cast("double")
    )
    return (
        e.select("user_id", roll.alias("roll"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.round((F.max("roll")) * F.lit(1e6), 0) / F.lit(1e6)).alias("peak_10m_avg"),
        )
    )


Q_ROLLING_EVENT_VALUE_SQL = f"""
WITH e AS (SELECT user_id, epoch_ns(ts) AS tns, value FROM events),
r AS (
  SELECT user_id,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
           / CAST(COUNT(*) OVER w AS DOUBLE) AS roll
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY tns
               RANGE BETWEEN {ROLL_NS} PRECEDING AND CURRENT ROW)
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND((MAX(roll)) * 1e6, 0) / 1e6 AS peak_10m_avg
FROM r GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Event-rate anomaly: hourly event counts z-scored against the whole
# window's mean/sample-stddev.  Counts, their sum, and their sum of
# squares are all integers (exact on both engines); the mean/variance/
# sqrt chain is then identical double arithmetic, so even the z-score
# FILTER is engine-exact — no boundary-row risk.
# ---------------------------------------------------------------------------

ANOMALY_Z = 2.0


def q_event_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    hours = (
        events.select(F.expr(f"ts div {NS_PER_HOUR}").alias("hour"))
        .groupBy("hour")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    stats = hours.agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )
    joined = hours.crossJoin(F.broadcast(stats))
    mean = F.col("s1").cast("double") / F.col("n_hours").cast("double")
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double")
            / F.col("n_hours").cast("double")
    ) / (F.col("n_hours") - F.lit(1)).cast("double")
    z = (F.col("n").cast("double") - mean) / F.sqrt(var)
    return (
        joined.withColumn("z", z)
        .filter(F.abs(F.col("z")) >= ANOMALY_Z)
        .select("hour", "n", (F.round((F.col("z")) * F.lit(1e6), 0) / F.lit(1e6)).alias("z"))
    )


Q_EVENT_RATE_ANOMALY_SQL = f"""
WITH hours AS (
  SELECT epoch_ns(ts) // {NS_PER_HOUR} AS hour, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_hours,
         CAST(SUM(n) AS BIGINT) AS s1,
         CAST(SUM(n * n) AS BIGINT) AS s2
  FROM hours
),
scored AS (
  SELECT hour, n,
         (CAST(n AS DOUBLE)
          - CAST(s1 AS DOUBLE) / CAST(n_hours AS DOUBLE))
         / sqrt((CAST(s2 AS DOUBLE)
                 - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                   / CAST(n_hours AS DOUBLE))
                / CAST(n_hours - 1 AS DOUBLE)) AS z
  FROM hours, stats
)
SELECT hour, n, ROUND((z) * 1e6, 0) / 1e6 AS z
FROM scored WHERE abs(z) >= {ANOMALY_Z}
"""


# ---------------------------------------------------------------------------
# CDC latest-wins merge (MERGE INTO analog): base snapshot + synthetic
# update batch (price corrections on every 7th order, tombstones on
# every 91st) merged by operators/cdc.merge_upsert — ONE shuffle on the
# merge key, union + row_number, never a join — then profiled per
# priority class.  The oracle replays the same semantics set-wise.
# ---------------------------------------------------------------------------

CDC_UPDATE_MOD = 7
CDC_DELETE_MOD = 91
CDC_PRICE_BUMP = 1000.0


def q_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_testdata(spark, sf_dir, "orders")
    base = orders.withColumn("_v", F.lit(0).cast("long"))
    updates = (
        orders.filter(F.col("o_orderkey") % CDC_UPDATE_MOD == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(CDC_PRICE_BUMP))
        .withColumn("_v", F.lit(1).cast("long"))
        .withColumn(
            "_del", F.col("o_orderkey") % CDC_DELETE_MOD == 0
        )
    )
    merged = merge_upsert(
        base, updates, keys=["o_orderkey"], version_col="_v", delete_col="_del"
    )
    return merged.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("revenue"),
    )


Q_CDC_UPSERT_SQL = f"""
WITH merged AS (
  SELECT o_orderpriority, o_totalprice
  FROM orders WHERE o_orderkey % {CDC_UPDATE_MOD} <> 0
  UNION ALL
  SELECT o_orderpriority, o_totalprice + {CDC_PRICE_BUMP}
  FROM orders
  WHERE o_orderkey % {CDC_UPDATE_MOD} = 0 AND o_orderkey % {CDC_DELETE_MOD} <> 0
)
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
       {dsum_sql("o_totalprice")} AS revenue
FROM merged GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Activity heatmap: day-of-week × hour-of-day event density with a
# decimal-stable mean value — the classic ops dashboard tile, in pure
# integer epoch arithmetic (1970-01-01 was a Thursday → dow 4; no
# date/timezone functions to diverge on).
# ---------------------------------------------------------------------------


def q_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    day = F.expr(f"ts div {NS_PER_DAY}")
    dow = F.pmod(day + F.lit(4), F.lit(7))
    hour = F.expr(f"(ts % {NS_PER_DAY}) div {NS_PER_HOUR}")
    return (
        events.select(dow.alias("dow"), hour.alias("hour"), "value")
        .groupBy("dow", "hour")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.round((dsum(F.col("value"), 6) / F.count(F.lit(1)).cast("double")) * F.lit(1e6), 0) / F.lit(1e6)).alias("avg_value"),
        )
    )


Q_ACTIVITY_HEATMAP_SQL = f"""
WITH e AS (
  SELECT (epoch_ns(ts) // {NS_PER_DAY} + 4) % 7 AS dow,
         (epoch_ns(ts) % {NS_PER_DAY}) // {NS_PER_HOUR} AS hour,
         value
  FROM events
)
SELECT dow, hour, CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(({dsum_sql("value", 6)} / CAST(COUNT(*) AS DOUBLE)) * 1e6, 0) / 1e6 AS avg_value
FROM e GROUP BY dow, hour
"""


# ---------------------------------------------------------------------------
# Pearson correlation from exact moments: corr(value, hour-of-day) per
# event type.  Built-in corr() accumulates doubles in partition order —
# not reproducible across engines or even across run topologies — so
# the five moments are exact DECIMAL/integer sums and the correlation
# is assembled in identical double arithmetic afterwards.
# ---------------------------------------------------------------------------


def q_value_hour_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    hour = F.expr(f"(ts % {NS_PER_DAY}) div {NS_PER_HOUR}")
    e = events.select("event_type", F.col("value").alias("x"), hour.alias("y"))
    agg = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(18,6)")).alias("s1"),
        F.sum("y").alias("s2"),
        F.sum((F.col("x") * F.col("y").cast("double")).cast("decimal(18,6)")).alias(
            "sxy"
        ),
        F.sum((F.col("x") * F.col("x")).cast("decimal(18,6)")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    cov = F.col("sxy").cast("double") - s1 * s2 / n
    vx = F.col("sxx").cast("double") - s1 * s1 / n
    vy = F.col("syy").cast("double") - s2 * s2 / n
    return agg.select(
        "event_type",
        F.col("n").alias("n_events"),
        (F.round((cov / F.sqrt(vx * vy)) * F.lit(1e6), 0) / F.lit(1e6)).alias("corr_value_hour"),
    )


Q_VALUE_HOUR_CORR_SQL = f"""
WITH e AS (
  SELECT event_type, value AS x,
         (epoch_ns(ts) % {NS_PER_DAY}) // {NS_PER_HOUR} AS y
  FROM events
),
m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(x AS DECIMAL(18,6))) AS s1,
         CAST(SUM(y) AS BIGINT) AS s2,
         SUM(CAST(x * CAST(y AS DOUBLE) AS DECIMAL(18,6))) AS sxy,
         SUM(CAST(x * x AS DECIMAL(18,6))) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM e GROUP BY event_type
)
SELECT event_type, n AS n_events,
       ROUND(((CAST(sxy AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)
                / CAST(n AS DOUBLE))
             / sqrt((CAST(sxx AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                       / CAST(n AS DOUBLE))
                    * (CAST(syy AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
                         / CAST(n AS DOUBLE)))) * 1e6, 0) / 1e6 AS corr_value_hour
FROM m
"""


# ---------------------------------------------------------------------------
# Quality deciles: NTILE(10) over token count with an explicit total
# order (n_tokens desc, doc_id asc — NTILE is only deterministic under
# a total order), profiled per decile.  NOTE the single-partition
# window is inherent to global NTILE and is fine ONLY because the
# windowed rows are (bigint, bigint) pairs; at 100 TB the same result
# comes from a two-pass quantile cut (compute decile boundaries from a
# sorted sample or exact rank selection, then a projection assigns
# bins) — documented here as the scale path.
# ---------------------------------------------------------------------------

QUALITY_DECILES = 10


def q_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    scored = documents.select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    w = Window.orderBy(F.desc("n_tokens"), F.asc("doc_id"))
    return (
        scored.withColumn("decile", F.ntile(QUALITY_DECILES).over(w))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


Q_QUALITY_DECILES_SQL = f"""
WITH scored AS (
  SELECT doc_id, len({SQL_TOKS}) AS n_tokens FROM documents
),
binned AS (
  SELECT n_tokens,
         CAST(ntile({QUALITY_DECILES})
              OVER (ORDER BY n_tokens DESC, doc_id ASC) AS INT) AS decile
  FROM scored
)
SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(n_tokens) AS min_tokens,
       MAX(n_tokens) AS max_tokens,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM binned GROUP BY decile
"""


# ---------------------------------------------------------------------------
# Incremental rollup maintenance: the monthly revenue rollup built by
# MERGING three independently-computed partial states (simulating three
# partition loads) instead of one full-scan groupBy.  Because the
# partial sums are exact DECIMAL monoids, the merged state is
# bit-identical to a direct aggregation — which is exactly what the
# oracle computes, so the gate proves partial-merge == full recompute.
# ---------------------------------------------------------------------------

INCR_SPLITS = 3


def q_incremental_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_testdata(spark, sf_dir, "orders")
    monthed = orders.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        "o_orderkey",
        "o_totalprice",
    )
    parts = [
        partial_aggregate(
            monthed.filter(F.col("o_orderkey") % INCR_SPLITS == i),
            ["order_month"],
            "o_totalprice",
        )
        for i in range(INCR_SPLITS)
    ]
    out = finalize(merge_partials(parts))
    return out.select(
        "order_month",
        F.col("n").alias("n_orders"),
        F.col("sum").alias("revenue"),
        F.col("min").alias("min_price"),
        F.col("max").alias("max_price"),
        (F.round((F.col("avg")) * F.lit(1e6), 0) / F.lit(1e6)).alias("avg_price"),
    )


Q_INCREMENTAL_REVENUE_SQL = f"""
SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {dsum_sql("o_totalprice")} AS revenue,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price,
       ROUND(({dsum_sql("o_totalprice")} / CAST(COUNT(*) AS DOUBLE)) * 1e6, 0) / 1e6
         AS avg_price
FROM orders GROUP BY order_month
"""


# ---------------------------------------------------------------------------
# Per-domain cap: at most K docs per source, chosen deterministically
# by hash-slot order (operators/splits.cap_per_group — salted two-phase
# rank, never a full per-group window).  Profiled per source so the
# oracle validates the exact kept-set, not just its size.
# ---------------------------------------------------------------------------

DOMAIN_CAP_K = 3


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    kept = cap_per_group(documents, DOMAIN_CAP_K)
    kept_stats = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("kept_chars"),
        F.min("doc_id").alias("min_kept_doc"),
    )
    totals = documents.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total")
    )
    return totals.join(kept_stats, "source").select(
        "source", "n_total", "n_kept", "kept_chars", "min_kept_doc"
    )


def _domain_cap_sql() -> str:
    pred = sql_cap_per_group_pred("doc_id", "source", DOMAIN_CAP_K)
    return f"""
WITH kept AS (
  SELECT source, doc_id, n_chars FROM documents
  QUALIFY {pred}
),
ks AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
         CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
         MIN(doc_id) AS min_kept_doc
  FROM kept GROUP BY source
),
totals AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total
  FROM documents GROUP BY source
)
SELECT t.source, t.n_total, k.n_kept, k.kept_chars, k.min_kept_doc
FROM totals t JOIN ks k USING (source)
"""


Q_DOMAIN_CAP_SQL = _domain_cap_sql()


QUERIES = {
    "tfidf_top_terms": q_tfidf_top_terms,
    "ngram_dup_spans": q_ngram_dup_spans,
    "shard_assignment": q_shard_assignment,
    "doc_length_histogram": q_doc_length_histogram,
    "edit_distance_pairs": q_edit_distance_pairs,
    "funnel_conversion": q_funnel_conversion,
    "retention_cohorts": q_retention_cohorts,
    "rolling_event_value": q_rolling_event_value,
    "event_rate_anomaly": q_event_rate_anomaly,
    "cdc_upsert": q_cdc_upsert,
    "activity_heatmap": q_activity_heatmap,
    "value_hour_corr": q_value_hour_corr,
    "quality_deciles": q_quality_deciles,
    "incremental_revenue": q_incremental_revenue,
    "domain_cap": q_domain_cap,
}

ORACLE_SQL = {
    "tfidf_top_terms": Q_TFIDF_TOP_TERMS_SQL,
    "ngram_dup_spans": Q_NGRAM_DUP_SPANS_SQL,
    "shard_assignment": Q_SHARD_ASSIGNMENT_SQL,
    "doc_length_histogram": Q_DOC_LENGTH_HISTOGRAM_SQL,
    "edit_distance_pairs": Q_EDIT_DISTANCE_PAIRS_SQL,
    "funnel_conversion": Q_FUNNEL_CONVERSION_SQL,
    "retention_cohorts": Q_RETENTION_COHORTS_SQL,
    "rolling_event_value": Q_ROLLING_EVENT_VALUE_SQL,
    "event_rate_anomaly": Q_EVENT_RATE_ANOMALY_SQL,
    "cdc_upsert": Q_CDC_UPSERT_SQL,
    "activity_heatmap": Q_ACTIVITY_HEATMAP_SQL,
    "value_hour_corr": Q_VALUE_HOUR_CORR_SQL,
    "quality_deciles": Q_QUALITY_DECILES_SQL,
    "incremental_revenue": Q_INCREMENTAL_REVENUE_SQL,
    "domain_cap": Q_DOMAIN_CAP_SQL,
}
