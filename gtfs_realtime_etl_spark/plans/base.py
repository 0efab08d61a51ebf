"""Base bank of the query registry, and the helpers every bank shares.

Every operator family from SURVEY.md §2 (and the training-data-pipeline
extensions) is demonstrated in the registry (``plans/queries.py``) as a
(Spark DataFrame builder, DuckDB oracle SQL) pair; this module holds
the first 53.  The driver runs both at sf=0.01 and compares
row-count + schema + order-insensitive value hash — so every computed
column is aliased identically on both sides, and every floating-point
output is made *deterministically identical* across engines:

- Sums/averages/stddevs go through exact DECIMAL accumulation (order-
  independent, engine-independent), then identical double-precision
  post-arithmetic on both sides.
- Remaining float outputs are rounded to a fixed scale on both sides.
- Window/top-k selections carry explicit integer tie-breaks.

GTFS-domain semantics (geohash, spatial joins, the full schedule-
deviation pipeline) are oracle-tested in ``tests/`` against generated
GTFS fixtures; the registry here covers them in star-schema form
(equi+residual theta join, band filter, window dedup, norm-CDF
reliability) so the driver gate exercises the same plan shapes.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.functions.hashing import (
    H64_BITS,
    doc_fingerprint_kernel,
    sql_minhash_sig,
    sql_shingle_hashes,
    sql_simhash,
    sql_token_hash64,
)
from gtfs_realtime_etl_spark.functions.stats import norm_cdf, norm_cdf_sql
from gtfs_realtime_etl_spark.functions.text import (
    AZ_LOWER,
    AZ_UPPER,
    STOPWORDS,
    bigrams,
    char_shingles,
    lang_id_kernel,
    pii_count,
    quality_score,
    redact_pii,
    sql_pii_count,
    sql_redact_pii,
    tokens,
)
from gtfs_realtime_etl_spark.functions.vector import cosine_similarity, dot, l2_norm
from gtfs_realtime_etl_spark.operators.asof import asof_join
from gtfs_realtime_etl_spark.operators.clusters import (
    connected_components,
    resolve_duplicates,
)
from gtfs_realtime_etl_spark.operators.decontam import contamination_pairs
from gtfs_realtime_etl_spark.operators.dedup import (
    MAX_BUCKET,
    exact_dedup,
    minhash_lsh_dedup,
    simhash_dedup,
)
from gtfs_realtime_etl_spark.operators.multimodal import (
    extract_features,
    media_stats,
    synthesize_media,
)
from gtfs_realtime_etl_spark.operators.sessions import session_stats
from gtfs_realtime_etl_spark.operators.similarity import (
    _hyperplanes,
    centroids_from_labels,
    dequantize,
    dim_min_max,
    ivf_topk,
    lsh_bucketed_topk,
    quantize_embeddings,
)
from gtfs_realtime_etl_spark.operators.splits import (
    mixture_sample,
    split_assign,
    sql_mixture_sample_pred,
    sql_split_assign,
    sql_stratified_sample_pred,
    stratified_sample,
)
from gtfs_realtime_etl_spark.sources.testdata import load_testdata, saturate_scan

QueryFn = Callable[[SparkSession, str], DataFrame]

# ---------------------------------------------------------------------------
# Cross-engine deterministic float helpers.
#
# Decimal accumulation is exact and order-independent, so Spark's
# partial/final parallel aggregation and DuckDB's sequential scan produce
# the same value; the double arithmetic AFTER aggregation is written with
# identical op order on both sides, so IEEE-754 gives identical bits.
# ---------------------------------------------------------------------------


def dsum(col: Column, scale: int = 2) -> Column:
    """Exact decimal sum of a double column, returned as double."""
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


def dsum_sql(x: str, scale: int = 2) -> str:
    return f"CAST(SUM(CAST({x} AS DECIMAL(18,{scale}))) AS DOUBLE)"


def dsumsq(col: Column) -> Column:
    d = col.cast("decimal(18,2)")
    return F.sum(d * d).cast("double")


def dsumsq_sql(x: str) -> str:
    d = f"CAST({x} AS DECIMAL(18,2))"
    return f"CAST(SUM({d} * {d}) AS DOUBLE)"


def davg(col: Column) -> Column:
    return dsum(col) / F.count(col).cast("double")


def davg_sql(x: str) -> str:
    return f"({dsum_sql(x)} / CAST(COUNT({x}) AS DOUBLE))"


def dstddev(col: Column) -> Column:
    """Sample stddev from exact decimal moments (deterministic across
    engines); NULL for n<2, clamped at 0 against negative round-off."""
    n = F.count(col).cast("double")
    s1 = dsum(col)
    s2 = dsumsq(col)
    var = (s2 - (s1 * s1) / n) / (n - F.lit(1.0))
    return F.when(n > 1, F.sqrt(F.greatest(var, F.lit(0.0)))).otherwise(F.lit(None))


def dstddev_sql(x: str) -> str:
    n = f"CAST(COUNT({x}) AS DOUBLE)"
    s1 = dsum_sql(x)
    s2 = dsumsq_sql(x)
    var = f"(({s2} - ({s1} * {s1}) / {n}) / ({n} - 1.0))"
    return f"(CASE WHEN {n} > 1 THEN SQRT(GREATEST({var}, 0.0)) ELSE NULL END)"


#: Exact integer cents of the double ``value`` column (both engines).
CENTS = "CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"


def revenue() -> Column:
    """Decimal-exact ``l_extendedprice * (1 - l_discount)``; built per
    call because Column construction needs an active SparkContext."""
    return F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )


REVENUE_SQL = (
    "CAST(l_extendedprice AS DECIMAL(18,2)) "
    "* (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
)


# ---------------------------------------------------------------------------
# events.ts is canonicalized to a raw nanoseconds bigint by the loader
# (sources/testdata.py:_normalize_event_ts — the driver's parquet has
# shipped both TIMESTAMP(NANOS) and TIMESTAMP(MICROS) physical types).
# All calendar derivations below are integer arithmetic on that value —
# timezone-free on both engines (DuckDB sees a naive timestamp; its
# epoch_ns/strftime/EXTRACT are calendar operations on the same value).
# ---------------------------------------------------------------------------

_NS_PER_SEC = 1_000_000_000
NS_PER_HOUR = 3_600 * _NS_PER_SEC
NS_PER_DAY = 86_400 * _NS_PER_SEC


def _ev_secs_of_day() -> Column:
    """Seconds-since-midnight of the (naive) event timestamp."""
    return F.expr(f"(ts div {_NS_PER_SEC}) % 86400").cast("int")


def _ev_date() -> Column:
    """'YYYY-MM-DD' of the (naive) event timestamp."""
    days = F.expr(f"cast(ts div {NS_PER_DAY} as int)")
    return F.date_add(F.lit("1970-01-01").cast("date"), days).cast("string")


def _ev_ts_us() -> Column:
    """Event timestamp as epoch microseconds (DuckDB: epoch_us(ts))."""
    return F.expr("ts div 1000")


# ---------------------------------------------------------------------------
# Q1: filtered, projected scan (SURVEY §2 P5/P8/S13).
# Filters + projection must reach the parquet scan (PushedFilters).
# ---------------------------------------------------------------------------


def q_filter_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = load_testdata(spark, sf_dir, "lineitem")
    return lineitem.filter(
        F.col("l_shipdate").between("1995-06-01", "1995-08-31")
        & (F.col("l_quantity") < 10)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate")


Q_FILTER_SCAN_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate
FROM lineitem
WHERE l_shipdate BETWEEN '1995-06-01' AND '1995-08-31' AND l_quantity < 10
"""


# ---------------------------------------------------------------------------
# Q2: pricing summary (TPC-H Q1 shape; SURVEY §2 A1-A3).
# ---------------------------------------------------------------------------


def q_agg_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = load_testdata(spark, sf_dir, "lineitem")
    qty, price, disc = F.col("l_quantity"), F.col("l_extendedprice"), F.col("l_discount")
    disc_price = (
        price.cast("decimal(18,2)") * (F.lit(1).cast("decimal(18,2)") - disc.cast("decimal(18,2)"))
    )
    return (
        lineitem.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("count_order"),
            dsum(qty).alias("sum_qty"),
            dsum(price).alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            (F.round((davg(qty)) * F.lit(1e6), 0) / F.lit(1e6)).alias("avg_qty"),
            (F.round((dstddev(qty)) * F.lit(1e6), 0) / F.lit(1e6)).alias("stddev_qty"),
        )
    )


Q_AGG_PRICING_SQL = f"""
SELECT
  l_returnflag,
  l_linestatus,
  COUNT(*) AS count_order,
  {dsum_sql('l_quantity')} AS sum_qty,
  {dsum_sql('l_extendedprice')} AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
    AS sum_disc_price,
  ROUND(({davg_sql('l_quantity')}) * 1e6, 0) / 1e6 AS avg_qty,
  ROUND(({dstddev_sql('l_quantity')}) * 1e6, 0) / 1e6 AS stddev_qty
FROM lineitem
WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# Q3: 5-way star join with broadcast dims (SURVEY §2 J1-J3).
# region/nation are broadcast; the orders⋈lineitem shuffle is the only
# wide exchange, keyed on the join column — the TPC-H Q5 plan shape.
# ---------------------------------------------------------------------------


def q_join_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region, nation, customer, orders, lineitem = load_testdata(
        spark, sf_dir, "region", "nation", "customer", "orders", "lineitem"
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey")
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1998-01-01")
        )
        .groupBy("n_name")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


Q_JOIN_REGIONAL_REVENUE_SQL = """
SELECT
  n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
    AS revenue,
  COUNT(DISTINCT o_orderkey) AS n_orders
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01'
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# Q4: window dedup — latest event per (user, type) (SURVEY §2 W1/P9).
# ---------------------------------------------------------------------------


def q_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("last_event_id"),
            F.col("value").alias("last_value"),
            _ev_ts_us().alias("last_ts_us"),
        )
    )


Q_WINDOW_DEDUP_SQL = """
SELECT user_id, event_type,
       event_id AS last_event_id, value AS last_value,
       epoch_us(ts) AS last_ts_us
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Q5: equi join + residual band predicate (SURVEY §2 J4 shape — the
# spatial join's plan: hash join on the key, theta residual on top).
# ---------------------------------------------------------------------------


def q_theta_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, lineitem = load_testdata(spark, sf_dir, "orders", "lineitem")
    lo = F.col("o_totalprice") * 0.05
    hi = F.col("o_totalprice") * 0.2
    return (
        lineitem.join(
            orders,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & F.col("l_extendedprice").between(lo, hi),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            dsum(F.col("l_extendedprice")).alias("matched_price"),
        )
    )


Q_THETA_BAND_JOIN_SQL = f"""
SELECT o_orderpriority,
       COUNT(*) AS n_matched,
       {dsum_sql('l_extendedprice')} AS matched_price
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
 AND l_extendedprice BETWEEN o_totalprice * 0.05 AND o_totalprice * 0.2
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Q6: predicate battery — isin / between / regex (SURVEY §2 P6-P8, F11).
# ---------------------------------------------------------------------------


def q_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    return (
        events.filter(
            F.col("event_type").isin("click", "view")
            & F.col("value").between(10, 100)
            & F.col("props").rlike(r'"k": [1-4][0-9]\}')
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
        )
    )


Q_FILTER_PREDICATES_SQL = f"""
SELECT event_type,
       COUNT(*) AS n_events,
       {dsum_sql('value')} AS sum_value
FROM events
WHERE event_type IN ('click', 'view')
  AND value BETWEEN 10 AND 100
  AND regexp_matches(props, '"k": [1-4][0-9]}}')
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Q7: time-of-day arithmetic (SURVEY §2 F7-F9, F12) — Spark has no TIME
# type; integer seconds-since-midnight is the canonical representation.
# ---------------------------------------------------------------------------


def q_time_of_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    return (
        events.withColumn("secs_of_day", _ev_secs_of_day())
        .withColumn("event_date", _ev_date())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("secs_of_day").alias("min_secs"),
            F.max("secs_of_day").alias("max_secs"),
            (
                F.sum("secs_of_day").cast("double")
                / F.count("secs_of_day").cast("double")
            ).alias("avg_secs"),
            F.countDistinct("event_date").alias("n_days"),
        )
    )


Q_TIME_OF_DAY_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       MIN(secs_of_day) AS min_secs,
       MAX(secs_of_day) AS max_secs,
       (CAST(SUM(secs_of_day) AS DOUBLE) / CAST(COUNT(secs_of_day) AS DOUBLE))
         AS avg_secs,
       COUNT(DISTINCT event_date) AS n_days
FROM (
  SELECT event_type,
         CAST((epoch_ns(ts) // 1000000000) % 86400 AS INT) AS secs_of_day,
         strftime(ts, '%Y-%m-%d') AS event_date
  FROM events
)
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Q8: reliability aggregate — norm-CDF in-plan (SURVEY §2 F13/F14, A1-A3).
# ---------------------------------------------------------------------------


def q_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    diff = F.col("value") - F.lit(150.0)
    grouped = (
        events.filter(F.col("event_type") == "purchase")
        .withColumn("diff", diff)
        .groupBy("user_id")
        .agg(
            F.count("diff").alias("count"),
            davg(F.col("diff")).alias("avg_diff"),
            dstddev(F.col("diff")).alias("stddev_diff"),
        )
        .filter(F.col("count") > 1)
    )
    z_min = (F.lit(-60.0) - F.col("avg_diff")) / F.col("stddev_diff")
    z_max = (F.lit(300.0) - F.col("avg_diff")) / F.col("stddev_diff")
    return grouped.select(
        "user_id",
        "count",
        (F.round((F.col("avg_diff")) * F.lit(1e6), 0) / F.lit(1e6)).alias("avg_diff_r"),
        (F.round((F.col("stddev_diff")) * F.lit(1e6), 0) / F.lit(1e6)).alias("stddev_diff_r"),
        (F.round((norm_cdf(z_max) - norm_cdf(z_min)) * F.lit(1e6), 0) / F.lit(1e6)).alias("reliability"),
    )


Q_RELIABILITY_SQL = f"""
SELECT user_id, count,
       ROUND((avg_diff) * 1e6, 0) / 1e6 AS avg_diff_r,
       ROUND((stddev_diff) * 1e6, 0) / 1e6 AS stddev_diff_r,
       ROUND(({norm_cdf_sql('(300.0 - avg_diff) / stddev_diff')}
             - {norm_cdf_sql('(-60.0 - avg_diff) / stddev_diff')}) * 1e6, 0) / 1e6 AS reliability
FROM (
  SELECT user_id,
         COUNT(diff) AS count,
         {davg_sql('diff')} AS avg_diff,
         {dstddev_sql('diff')} AS stddev_diff
  FROM (SELECT user_id, value - 150.0 AS diff FROM events
        WHERE event_type = 'purchase')
  GROUP BY user_id
)
WHERE count > 1
"""


# ---------------------------------------------------------------------------
# Q9: the flagship composite — "punctuality" in star-schema form.
# Same plan shape as the GTFS schedule-deviation query E3: broadcast-dim
# joins → band filter → window dedup (closest wins) → group agg →
# norm-CDF reliability, all in one Spark plan.
# ---------------------------------------------------------------------------

NOON = 12 * 3600


def q_flagship_punctuality(spark: SparkSession, sf_dir: str) -> DataFrame:
    events, customer, nation = load_testdata(
        spark, sf_dir, "events", "customer", "nation"
    )
    diff = (_ev_secs_of_day() - F.lit(NOON)).alias("diff")
    pings = (
        events.filter(F.col("event_type").isin("view", "click"))
        .select("user_id", "event_id", _ev_date().alias("event_date"), diff)
        .filter(F.col("diff").between(-3600, 3600))
    )
    w = Window.partitionBy("user_id", "event_date").orderBy(
        F.asc(F.abs(F.col("diff"))), F.asc("event_id")
    )
    best = pings.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    joined = best.join(
        F.broadcast(customer), best["user_id"] == customer["c_custkey"]
    ).join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    grouped = (
        joined.groupBy("n_name")
        .agg(
            F.count("diff").alias("count"),
            davg(F.col("diff")).alias("avg_diff"),
            dstddev(F.col("diff")).alias("stddev_diff"),
        )
        .filter(F.col("count") > 1)
    )
    z_min = (F.lit(-60.0) - F.col("avg_diff")) / F.col("stddev_diff")
    z_max = (F.lit(300.0) - F.col("avg_diff")) / F.col("stddev_diff")
    return grouped.select(
        "n_name",
        "count",
        (F.round((F.col("avg_diff")) * F.lit(1e6), 0) / F.lit(1e6)).alias("avg_diff_r"),
        (F.round((F.col("stddev_diff")) * F.lit(1e6), 0) / F.lit(1e6)).alias("stddev_diff_r"),
        (F.round((norm_cdf(z_max) - norm_cdf(z_min)) * F.lit(1e6), 0) / F.lit(1e6)).alias("reliability"),
    )


Q_FLAGSHIP_PUNCTUALITY_SQL = f"""
SELECT n_name, count,
       ROUND((avg_diff) * 1e6, 0) / 1e6 AS avg_diff_r,
       ROUND((stddev_diff) * 1e6, 0) / 1e6 AS stddev_diff_r,
       ROUND(({norm_cdf_sql('(300.0 - avg_diff) / stddev_diff')}
             - {norm_cdf_sql('(-60.0 - avg_diff) / stddev_diff')}) * 1e6, 0) / 1e6 AS reliability
FROM (
  SELECT n_name,
         COUNT(diff) AS count,
         {davg_sql('diff')} AS avg_diff,
         {dstddev_sql('diff')} AS stddev_diff
  FROM (
    SELECT * FROM (
      SELECT user_id, event_date, diff, ROW_NUMBER() OVER (
        PARTITION BY user_id, event_date ORDER BY ABS(diff) ASC, event_id ASC) AS rn
      FROM (
        SELECT user_id, event_id, strftime(ts, '%Y-%m-%d') AS event_date,
               CAST((epoch_ns(ts) // 1000000000) % 86400 AS INT) - {NOON} AS diff
        FROM events
        WHERE event_type IN ('view', 'click')
      )
      WHERE diff BETWEEN -3600 AND 3600
    ) WHERE rn = 1
  ) best
  JOIN customer ON best.user_id = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY n_name
)
WHERE count > 1
"""


# ---------------------------------------------------------------------------
# Q10: exact dedup — hash-groupBy on normalized text (LLM-pipeline op).
# Scale path: md5-group is a single shuffle on the digest; survivors via
# min(doc_id) — no pairwise comparison ever happens.
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    return exact_dedup(documents)


Q_DEDUP_EXACT_SQL = """
SELECT md5(translate(trim(regexp_replace(text, '\\s+', ' ', 'g')), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS content_hash,
       MIN(doc_id) AS survivor_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Q11: n-gram Jaccard near-dup pairs (LLM-pipeline op).
# Candidate pairs come from an EQUI join on (source, length-bucket) —
# the LSH-bucketing plan shape: one hash shuffle on the composite key,
# quadratic comparison only within tiny buckets.  The oracle-checkable
# small-scale form of the MinHash-LSH pipeline in operators/dedup.py.
# ---------------------------------------------------------------------------

SHINGLE_K = 5
JACCARD_THRESHOLD = 0.2
LEN_BUCKET = 32


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    # Fold case ONCE into an attribute, and only shingle AFTER the
    # repartition: an expression inside the per-shingle lambda would be
    # re-evaluated per element (O(n²) per doc), and shingling before the
    # exchange would run on the scan's (often single) input partition.
    n_tasks = spark.sparkContext.defaultParallelism
    folded = documents.select(
        "doc_id",
        "source",
        "n_chars",
        F.expr(f"n_chars div {LEN_BUCKET}").alias("len_bucket"),
        F.translate(F.col("text"), AZ_UPPER, AZ_LOWER).alias("_t"),
    ).repartition(n_tasks, "source", "len_bucket")  # pinned: AQE-exempt
    docs = folded.select(
        "doc_id",
        "source",
        "n_chars",
        "len_bucket",
        F.array_distinct(
            char_shingles(F.col("_t"), SHINGLE_K, prefolded=True)
        ).alias("shingles"),
    )
    a = docs.alias("a")
    b = docs.alias("b")
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
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (F.round((jac) * F.lit(1e6), 0) / F.lit(1e6)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


Q_DEDUP_NGRAM_JACCARD_SQL = f"""
WITH docs AS (
  SELECT doc_id, source, n_chars, n_chars // {LEN_BUCKET} AS len_bucket,
         list_distinct(list_transform(
           range(1, GREATEST(length(text) - {SHINGLE_K - 1}, 1) + 1),
           i -> substr(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), i, {SHINGLE_K}))) AS shingles
  FROM documents
)
SELECT doc_a, doc_b, jaccard
FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         ROUND((CAST(length(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
               / CAST(length(list_distinct(list_concat(a.shingles, b.shingles)))
                      AS DOUBLE)) * 1e6, 0) / 1e6 AS jaccard
  FROM docs a JOIN docs b
    ON a.source = b.source AND a.len_bucket = b.len_bucket
   AND a.doc_id < b.doc_id AND ABS(a.n_chars - b.n_chars) <= 20
)
WHERE jaccard >= {JACCARD_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# Q12: brute-force cosine top-k ANN (LLM-pipeline op).
# The exact baseline for similarity search: one broadcast of the query
# vector, a narrow map computing cosine, then a global top-k (Spark's
# TakeOrderedAndProject — no full sort).  The LSH-bucketed scale path
# lives in operators/similarity.py.
# ---------------------------------------------------------------------------

TOP_K = 10


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    (embeddings,) = load_testdata(spark, sf_dir, "embeddings")
    emb = embeddings.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("vec")
    )
    qvec = emb.filter(F.col("vec_id") == 0).select(F.col("vec").alias("qvec"))
    sim = cosine_similarity(F.col("vec"), F.col("qvec"))
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qvec))
        .select("vec_id", "label", (F.round((sim) * F.lit(1e6), 0) / F.lit(1e6)).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOP_K)
    )


Q_ANN_COSINE_TOPK_SQL = f"""
WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings),
q AS (SELECT vec FROM emb WHERE vec_id = 0)
SELECT e.vec_id, e.label,
       ROUND((list_cosine_similarity(e.vec, q.vec)) * 1e6, 0) / 1e6 AS cosine
FROM emb e CROSS JOIN q
WHERE e.vec_id <> 0
ORDER BY cosine DESC, e.vec_id ASC
LIMIT {TOP_K}
"""


# ---------------------------------------------------------------------------
# Q13: per-source text-quality statistics (LLM-pipeline op).
# Ratios are accumulated as DECIMAL(18,12) so the per-group means are
# order-independent and engine-identical.
# ---------------------------------------------------------------------------


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    text = F.col("text")
    n_tokens = F.size(tokens(text))
    stripped = F.regexp_replace(text, r"[!-/:-@\[-`{-~]", "")
    punct = (F.length(text) - F.length(stripped)).cast("double") / F.length(text).cast(
        "double"
    )
    enriched = documents.select(
        "source",
        n_tokens.alias("n_tokens"),
        punct.alias("punct_ratio"),
        F.length(text).alias("n_chars_live"),
    )
    return enriched.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.round((F.sum("n_tokens").cast("double") / F.count(F.lit(1)).cast("double")) * F.lit(1e6), 0) / F.lit(1e6)).alias("avg_tokens"),
        (F.round((F.sum(F.col("punct_ratio").cast("decimal(18,12)")).cast("double")
            / F.count(F.lit(1)).cast("double")) * F.lit(1e6), 0) / F.lit(1e6)).alias("avg_punct_ratio"),
        F.min("n_chars_live").alias("min_chars"),
        F.max("n_chars_live").alias("max_chars"),
    )


# NB the CAST(SUM(<int>) AS BIGINT) wrappers in the oracle SQLs are
# deliberate overflow parity, not cosmetics: DuckDB widens integer SUM
# to HUGEINT (Arrow decimal128(38,0) — a different driver hash), while
# Spark's bigint SUM overflows at 2^63.  The cast makes DuckDB raise
# where Spark would, narrowing the oracle's range on purpose.
Q_TEXT_QUALITY_SQL = """
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       ROUND((CAST(SUM(n_tokens) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) * 1e6, 0) / 1e6 AS avg_tokens,
       ROUND((CAST(SUM(CAST(punct_ratio AS DECIMAL(18,12))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE)) * 1e6, 0) / 1e6 AS avg_punct_ratio,
       MIN(n_chars_live) AS min_chars,
       MAX(n_chars_live) AS max_chars
FROM (
  SELECT source,
         length(list_filter(string_split_regex(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+'),
                            x -> x <> '')) AS n_tokens,
         CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g'))
              AS DOUBLE) / CAST(length(text) AS DOUBLE) AS punct_ratio,
         length(text) AS n_chars_live
  FROM documents
)
GROUP BY source
"""


# ---------------------------------------------------------------------------
# Q13b: composite quality-score filter (LLM-pipeline op) — the corpus
# curation gate: per-source kept/dropped counts at a score threshold
# plus the decimal-stabilized mean score.  Same op order on both
# engines, so the doubles agree bit-for-bit.
# ---------------------------------------------------------------------------

QUALITY_KEEP = 0.8


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    score = quality_score(F.col("text"))
    scored = documents.select("source", score.alias("score"))
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("score") >= QUALITY_KEEP, 1).otherwise(0)).alias(
            "n_kept"
        ),
        (F.round((F.sum(F.col("score").cast("decimal(18,12)")).cast("double")
            / F.count(F.lit(1)).cast("double")) * F.lit(1e6), 0) / F.lit(1e6)).alias("avg_score"),
    )


# Mirrors functions/text.py::quality_score term by term: least/greatest
# clamps, the punct/digit char-class strip ratios, left-associated sum.
_QS_NTOK = (
    "length(list_filter(string_split_regex(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+'), "
    "x -> x <> ''))"
)
_QS_PUNCT = (
    "(CASE WHEN length(text) > 0 THEN "
    "CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE)"
    " / CAST(length(text) AS DOUBLE) ELSE 0.0 END)"
)
_QS_DIGIT = (
    "(CASE WHEN length(text) > 0 THEN "
    "CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)"
    " / CAST(length(text) AS DOUBLE) ELSE 0.0 END)"
)
QS_SCORE = (
    f"(least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) "
    f"+ least(CAST({_QS_NTOK} AS DOUBLE) / 40.0, 1.0) "
    f"+ greatest(1.0 - {_QS_PUNCT} * 4.0, 0.0) "
    f"+ greatest(1.0 - {_QS_DIGIT} * 4.0, 0.0)) / 4.0"
)

Q_QUALITY_FILTER_SQL = f"""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN score >= {QUALITY_KEEP} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       ROUND((CAST(SUM(CAST(score AS DECIMAL(18,12))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE)) * 1e6, 0) / 1e6 AS avg_score
FROM (SELECT source, {QS_SCORE} AS score FROM documents)
GROUP BY source
"""


# ---------------------------------------------------------------------------
# Q14: language-ID heuristic distribution (LLM-pipeline op).
# First-in-order argmax over per-language stopword hits; 'und' when no
# stopword matches at all.
# ---------------------------------------------------------------------------


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    # Arrow kernel hot path: one set-membership pass per token.  Its
    # per-document agreement with the CASE of Q_LANG_ID_SQL is pinned
    # by tests/test_functions.py.
    return (
        documents.select(
            lang_id_kernel()(F.col("text")).alias("lang_pred"),
            F.col("lang").alias("lang_true"),
        )
        .groupBy("lang_pred", "lang_true")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _lang_hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        "length(list_filter(list_filter(string_split_regex(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), "
        f"'\\s+'), x -> x <> ''), x -> x IN ({words})))"
    )


_LANGS = sorted(STOPWORDS)
_GREATEST = "GREATEST(" + ", ".join(f"h_{lang}" for lang in _LANGS) + ")"
_ARGMAX_CASES = " ".join(
    f"WHEN h_{lang} = {_GREATEST} THEN '{lang}'" for lang in _LANGS
)

Q_LANG_ID_SQL = f"""
SELECT CASE WHEN {_GREATEST} = 0 THEN 'und' {_ARGMAX_CASES} END AS lang_pred,
       lang AS lang_true,
       COUNT(*) AS n_docs
FROM (
  SELECT lang, {", ".join(f"{_lang_hits_sql(lang)} AS h_{lang}" for lang in _LANGS)}
  FROM documents
)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Q15: document fingerprint — polynomial rolling hash over characters
# (LLM-pipeline op).  The same mod-2^31-1 Horner recurrence on both
# engines: an Arrow kernel in Spark, a list_reduce fold in DuckDB.
# ---------------------------------------------------------------------------

_FP_MOD = 2147483647


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    # Arrow kernel (fused fold+hash, one vectorized power-dot per doc),
    # pinned bit-identical to the oracle below by tests/test_functions.py.
    return documents.select(
        "doc_id", doc_fingerprint_kernel()(F.col("text")).alias("fingerprint")
    )


Q_DOC_FINGERPRINT_SQL = f"""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(range(1, length(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) + 1),
                          i -> CAST(ascii(substr(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), i, 1)) AS BIGINT))),
         (acc, c) -> (acc * 31 + c) % {_FP_MOD}) AS fingerprint
FROM documents
"""


# ---------------------------------------------------------------------------
# Q16: per-label embedding centroids (vector aggregate; LLM-pipeline op).
# posexplode → group by (label, dim) keeps the whole reduction JVM-side;
# float32 values are upcast to double BEFORE decimal accumulation so both
# engines quantize the same widened value.
# ---------------------------------------------------------------------------


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    (embeddings,) = load_testdata(spark, sf_dir, "embeddings")
    exploded = embeddings.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>"))
    ).select("label", (F.col("pos") + 1).alias("dim"), F.col("col").alias("val"))
    return exploded.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (F.round((F.sum(F.col("val").cast("decimal(20,10)")).cast("double")
            / F.count(F.lit(1)).cast("double")) * F.lit(1e8), 0) / F.lit(1e8)).alias("centroid_val"),
    )


Q_EMBEDDING_CENTROIDS_SQL = """
SELECT label, dim,
       COUNT(*) AS n_vecs,
       ROUND((CAST(SUM(CAST(val AS DECIMAL(20,10))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE)) * 1e8, 0) / 1e8 AS centroid_val
FROM (
  SELECT label, pos AS dim, vec[pos] AS val
  FROM (SELECT label, embedding::DOUBLE[] AS vec,
               unnest(range(1, len(embedding) + 1)) AS pos
        FROM embeddings)
)
GROUP BY label, dim
"""


# ---------------------------------------------------------------------------
# Q17: global top-k — ORDER BY + LIMIT with explicit integer tie-break
# (Spark plans TakeOrderedAndProject: per-partition heaps, no full sort).
# ---------------------------------------------------------------------------

TOPK_ORDERS = 20


def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_testdata(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(TOPK_ORDERS)
    )


Q_TOPK_ORDERS_SQL = f"""
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT {TOPK_ORDERS}
"""


# ---------------------------------------------------------------------------
# Q18: set operations — INTERSECT / EXCEPT / UNION-DISTINCT over the
# customer cohorts of two order years.
# ---------------------------------------------------------------------------


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_testdata(spark, sf_dir, "orders")

    def cohort(year: int) -> DataFrame:
        return (
            orders.filter(
                F.col("o_orderdate").between(f"{year}-01-01", f"{year}-12-31 23:59:59")
            )
            .select("o_custkey")
            .distinct()
        )

    a, b = cohort(1994), cohort(1995)
    rows = [
        ("both_years", a.intersect(b)),
        ("only_1994", a.exceptAll(b).distinct()),
        ("either_year", a.union(b).distinct()),
    ]
    out = None
    for tag, df in rows:
        r = df.agg(F.count(F.lit(1)).alias("n_customers")).select(
            F.lit(tag).alias("cohort"), "n_customers"
        )
        out = r if out is None else out.unionByName(r)
    return out


Q_SET_OPS_SQL = """
WITH a AS (SELECT DISTINCT o_custkey FROM orders
           WHERE o_orderdate BETWEEN '1994-01-01' AND '1995-01-01'::TIMESTAMP - INTERVAL 1 SECOND),
     b AS (SELECT DISTINCT o_custkey FROM orders
           WHERE o_orderdate BETWEEN '1995-01-01' AND '1996-01-01'::TIMESTAMP - INTERVAL 1 SECOND)
SELECT 'both_years' AS cohort, COUNT(*) AS n_customers
FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
UNION ALL
SELECT 'only_1994', COUNT(*) FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
UNION ALL
SELECT 'either_year', COUNT(*) FROM (SELECT o_custkey FROM a UNION SELECT o_custkey FROM b)
"""


# ---------------------------------------------------------------------------
# Q19: semi / anti joins — per nation, customers with and without any
# order.  Semi/anti never materialize the right side, so at scale the
# orders probe is one broadcast-or-shuffled hash join with no payload.
# ---------------------------------------------------------------------------


def q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders, nation = load_testdata(
        spark, sf_dir, "customer", "orders", "nation"
    )
    total = customer.groupBy(
        F.col("c_nationkey").alias("t_nationkey")
    ).agg(F.count(F.lit(1)).alias("n_customers"))
    active = (
        customer.join(orders, customer["c_custkey"] == orders["o_custkey"], "left_semi")
        .groupBy(F.col("c_nationkey").alias("a_nationkey"))
        .agg(F.count(F.lit(1)).alias("with_orders"))
    )
    return (
        F.broadcast(nation)
        .join(total, nation["n_nationkey"] == total["t_nationkey"])
        .join(active, nation["n_nationkey"] == active["a_nationkey"], "left")
        .select(
            "n_name",
            "n_customers",
            F.coalesce("with_orders", F.lit(0)).alias("with_orders"),
            (F.col("n_customers") - F.coalesce("with_orders", F.lit(0))).alias(
                "without_orders"
            ),
        )
    )


Q_SEMI_ANTI_JOIN_SQL = """
SELECT n_name,
       COUNT(*) AS n_customers,
       CAST(SUM(CASE WHEN EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
                     THEN 1 ELSE 0 END) AS BIGINT) AS with_orders,
       CAST(SUM(CASE WHEN NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
                     THEN 1 ELSE 0 END) AS BIGINT) AS without_orders
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# Q20: ROLLUP — hierarchical aggregate with grouping id (subtotal rows).
# Spark evaluates rollups as a single Expand + hash aggregate; no
# multiple scans of the fact table.
# ---------------------------------------------------------------------------


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = load_testdata(spark, sf_dir, "lineitem")
    # Full-table decimal aggregation — the heavy map-side class that
    # justifies widening the narrow local scan (round-12 interleaved
    # A/B: 3.79 -> 1.78 s; no-op on production multi-file inputs).
    lineitem = saturate_scan(lineitem)
    return lineitem.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum(F.col("l_quantity")).alias("sum_qty"),
        dsum(F.col("l_extendedprice")).alias("sum_price"),
        F.grouping_id().cast("int").alias("gid"),
    )


Q_ROLLUP_REVENUE_SQL = f"""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_items,
       {dsum_sql('l_quantity')} AS sum_qty,
       {dsum_sql('l_extendedprice')} AS sum_price,
       CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


# ---------------------------------------------------------------------------
# Q21: gap-based sessionization (lag + running sum; SURVEY §2.7 T5
# extension).  One shuffle on user_id; both window passes reuse it.
# ---------------------------------------------------------------------------

SESSION_GAP_NS = 1_800 * 1_000_000_000  # 30 min


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    stats = session_stats(
        events, gap=SESSION_GAP_NS,
        order_cols=["event_id"],
    )
    return stats.select(
        "user_id",
        F.col("session_id").cast("bigint").alias("session_id"),
        "n_events",
        F.expr("session_start div 1000").alias("start_us"),
        F.expr("duration div 1000000000").alias("duration_s"),
    )


Q_SESSIONIZATION_SQL = f"""
WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS tns FROM events),
flagged AS (
  SELECT user_id, event_id, tns,
         CASE WHEN lag(tns) OVER w IS NULL
                OR tns - lag(tns) OVER w > {SESSION_GAP_NS} THEN 1 ELSE 0 END AS is_new
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY tns, event_id)
),
sessioned AS (
  SELECT user_id, tns,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY tns, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       COUNT(*) AS n_events,
       MIN(tns) // 1000 AS start_us,
       (MAX(tns) - MIN(tns)) // 1000000000 AS duration_s
FROM sessioned
GROUP BY user_id, session_id
"""


# ---------------------------------------------------------------------------
# Q22: JSON extraction — parse the events.props JSON payload JVM-side
# (get_json_object; no Python in the loop).
# ---------------------------------------------------------------------------


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.select(k.alias("k"), "value")
        .withColumn("k_bucket", F.expr("k div 10"))
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            dsum(F.col("value")).alias("sum_value"),
        )
    )


Q_JSON_EXTRACT_SQL = f"""
SELECT k // 10 AS k_bucket,
       COUNT(*) AS n_events,
       MIN(k) AS min_k,
       MAX(k) AS max_k,
       {dsum_sql('value')} AS sum_value
FROM (SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k, value FROM events)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Q23: token statistics — whitespace tokens + a BPE-ish regex
# tokenization (letter runs / single digits / single punctuation), all
# in JVM regex (RE2-compatible pattern so the DuckDB oracle agrees).
# ---------------------------------------------------------------------------

BPE_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    ws = F.size(tokens(F.col("text")))
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), F.lit(0)))
    per_doc = documents.select("lang", ws.alias("n_ws"), bpe.alias("n_bpe"))
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_ws").alias("total_ws_tokens"),
        F.sum("n_bpe").alias("total_bpe_tokens"),
        (F.round((F.sum("n_bpe").cast("double") / F.count(F.lit(1)).cast("double")) * F.lit(1e6), 0) / F.lit(1e6)).alias("avg_bpe_per_doc"),
    )


Q_TOKEN_STATS_SQL = f"""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_ws) AS BIGINT) AS total_ws_tokens,
       CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
       ROUND((CAST(SUM(n_bpe) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) * 1e6, 0) / 1e6 AS avg_bpe_per_doc
FROM (
  SELECT lang,
         length(list_filter(string_split_regex(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+'),
                            x -> x <> '')) AS n_ws,
         length(regexp_extract_all(text, '{BPE_PATTERN}')) AS n_bpe
  FROM documents
)
GROUP BY lang
"""


# ---------------------------------------------------------------------------
# Q24: embedding-cosine near-dup profile (LLM-pipeline op) — exact
# quadratic comparison within label blocks (the oracle-checkable stand-in
# for the LSH bucketing in operators/similarity.py), aggregated per label.
# ---------------------------------------------------------------------------

NEARDUP_COSINE = 0.8
# Pair-join block cap: bounds per-label pair counts at MAX_BLOCK²/2
# (same discipline as MAX_BUCKET for MinHash/SimHash buckets).
NEARDUP_MAX_BLOCK = 64


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    (embeddings,) = load_testdata(spark, sf_dir, "embeddings")
    # Hoist each vector's norm to an attribute BEFORE the pair join:
    # inside the join, cosine_similarity() would re-fold both 64-dim
    # norms PER PAIR (interpreted HOFs — 3 folds/pair); hoisted, the
    # per-pair cost is the dot fold alone.  The arithmetic (same fold
    # order, same sqrt, same when-guard) is unchanged, so the oracle's
    # explicit left-fold SQL still matches bit-for-bit.
    emb = embeddings.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("vec")
    ).withColumn("norm", l2_norm(F.col("vec")))
    # Deterministic block cap (same discipline as the MinHash/SimHash
    # MAX_BUCKET): only the first NEARDUP_MAX_BLOCK vectors per
    # label (by vec_id) enter the pair join, so a block's pair count is
    # bounded by MAX_BLOCK²/2 no matter how large the label grows —
    # block-quadratic becomes block-bounded.  ``n_overflow`` reports the
    # vectors excluded per label; the unbiased scale path for full-block
    # recall is ann_lsh_topk / minhash_lsh_candidates.
    block = (
        emb.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("label").orderBy("vec_id")),
        )
        .filter(F.col("rn") <= NEARDUP_MAX_BLOCK)
        .drop("rn")
        # explicit numPartitions: vectors are byte-light but the pair
        # fold is CPU-heavy, and AQE's size-based coalescing would fuse
        # the whole self-join into ONE task.  A user-pinned count keeps
        # one task per label block.
        .repartition(32, "label")
    )
    a, b = block.alias("a"), block.alias("b")
    denom = F.col("a.norm") * F.col("b.norm")
    cos = (F.round((F.when(denom > 0, dot(F.col("a.vec"), F.col("b.vec")) / denom).otherwise(
            F.lit(0.0)
        )) * F.lit(1e6), 0) / F.lit(1e6))
    pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(F.col("a.label").alias("label"), cos.alias("cosine"))
    agg = pairs.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("cosine") >= NEARDUP_COSINE, 1).otherwise(0)).alias(
            "n_near_dups"
        ),
        (F.round((F.sum(F.col("cosine").cast("decimal(18,12)")).cast("double")
            / F.count(F.lit(1)).cast("double")) * F.lit(1e6), 0) / F.lit(1e6)).alias("avg_cosine"),
    )
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))
    return agg.join(F.broadcast(counts), "label").select(
        "label",
        "n_pairs",
        "n_near_dups",
        "avg_cosine",
        (
            F.col("n_vecs") - F.least(F.col("n_vecs"), F.lit(NEARDUP_MAX_BLOCK))
        ).alias("n_overflow"),
    )


# The cosine is an explicit left fold (initial 0.0 via list_prepend, the
# DuckDB-1.x list_reduce has no seed argument) so the accumulation order is
# bit-identical to the Spark ``zip_with``/``aggregate`` expression in
# functions/vector.py — DuckDB's builtin list_cosine_similarity makes no
# such op-order guarantee and can flip round-to-6-digits at a boundary.
FOLD_SUM = "list_reduce(list_prepend(0.0, {terms}), (acc, x) -> acc + x)"
COS_DOT = FOLD_SUM.format(
    terms="list_transform(range(1, len(a.vec) + 1), i -> a.vec[i] * b.vec[i])"
)
COS_NORM_A = "sqrt(" + FOLD_SUM.format(
    terms="list_transform(a.vec, v -> v * v)"
) + ")"
COS_NORM_B = "sqrt(" + FOLD_SUM.format(
    terms="list_transform(b.vec, v -> v * v)"
) + ")"

Q_EMBEDDING_NEARDUP_SQL = f"""
WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings),
blk AS (
  SELECT vec_id, label, vec
  FROM (
    SELECT vec_id, label, vec,
           ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) AS rn
    FROM emb
  )
  WHERE rn <= {NEARDUP_MAX_BLOCK}
),
counts AS (SELECT label, COUNT(*) AS n_vecs FROM emb GROUP BY label),
pairs AS (
  SELECT a.label AS label,
         ROUND((CASE WHEN {COS_NORM_A} * {COS_NORM_B} > 0
                    THEN {COS_DOT} / ({COS_NORM_A} * {COS_NORM_B})
                    ELSE 0.0 END) * 1e6, 0) / 1e6 AS cosine
  FROM blk a JOIN blk b ON a.label = b.label AND a.vec_id < b.vec_id
),
agg AS (
  SELECT label,
         COUNT(*) AS n_pairs,
         CAST(SUM(CASE WHEN cosine >= {NEARDUP_COSINE} THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dups,
         ROUND((CAST(SUM(CAST(cosine AS DECIMAL(18,12))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE)) * 1e6, 0) / 1e6 AS avg_cosine
  FROM pairs
  GROUP BY label
)
SELECT agg.label, n_pairs, n_near_dups, avg_cosine,
       n_vecs - LEAST(n_vecs, {NEARDUP_MAX_BLOCK}) AS n_overflow
FROM agg JOIN counts ON agg.label = counts.label
"""


# ---------------------------------------------------------------------------
# Q25: multimodal metadata profile — the column-pruned path over a
# media table (binary payload + typed metadata).  The oracle recomputes
# the synthesized metadata from documents; payload bytes are the UTF-8
# text bytes (DuckDB strlen).
# ---------------------------------------------------------------------------


def q_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    media = synthesize_media(documents)
    return media_stats(media)


Q_MEDIA_STATS_SQL = """
SELECT 'image' AS modality,
       COUNT(*) AS n_items,
       AVG(strlen(text)) AS avg_bytes,
       MAX(CAST(doc_id % 640 + 64 AS INTEGER)) AS max_width,
       MAX(CAST(doc_id % 480 + 48 AS INTEGER)) AS max_height,
       AVG(CAST(doc_id % 60000 AS INTEGER)) AS avg_duration_ms
FROM documents
"""


# ---------------------------------------------------------------------------
# Q26: as-of join — for each purchase event, the latest click by the
# same user at or before it (operators/asof.py: union + carry-forward,
# exactly one shuffle on user_id).  DuckDB oracle uses native ASOF JOIN.
# ---------------------------------------------------------------------------


def q_asof_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select("user_id", "ts")
    joined = asof_join(purchases, clicks, on="user_id", direction="backward")
    return joined.select(
        "purchase_id",
        "user_id",
        F.expr("ts div 1000").alias("purchase_us"),
        F.expr("ts_right div 1000").alias("click_us"),
        F.expr("(ts - ts_right) div 1000000000").alias("gap_s"),
    )


Q_ASOF_CLICKS_SQL = """
WITH p AS (SELECT event_id AS purchase_id, user_id, epoch_ns(ts) AS tns
           FROM events WHERE event_type = 'purchase'),
     c AS (SELECT user_id, epoch_ns(ts) AS tns
           FROM events WHERE event_type = 'click')
SELECT p.purchase_id, p.user_id,
       p.tns // 1000 AS purchase_us,
       c.tns // 1000 AS click_us,
       (p.tns - c.tns) // 1000000000 AS gap_s
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.tns >= c.tns
"""


# ---------------------------------------------------------------------------
# Q26b: forward as-of join with tolerance — "next click within an hour
# of each purchase" (operators/asof.py direction="forward"); matches
# beyond the tolerance are nulled, the left row kept.  Oracle: DuckDB
# forward ASOF (p.ts <= c.ts) + the same tolerance CASE.
# ---------------------------------------------------------------------------

ASOF_TOL_NS = 3_600_000_000_000  # 1 hour


def q_asof_next_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select("user_id", "ts")
    joined = asof_join(
        purchases,
        clicks,
        on="user_id",
        direction="forward",
        tolerance=ASOF_TOL_NS,
    )
    return joined.select(
        "purchase_id",
        "user_id",
        F.expr("ts div 1000").alias("purchase_us"),
        F.expr("ts_right div 1000").alias("next_click_us"),
        F.expr("(ts_right - ts) div 1000000000").alias("gap_s"),
    )


Q_ASOF_NEXT_CLICK_SQL = f"""
WITH p AS (SELECT event_id AS purchase_id, user_id, epoch_ns(ts) AS tns
           FROM events WHERE event_type = 'purchase'),
     c AS (SELECT user_id, epoch_ns(ts) AS tns
           FROM events WHERE event_type = 'click'),
j AS (
  SELECT p.purchase_id, p.user_id, p.tns,
         CASE WHEN c.tns - p.tns <= {ASOF_TOL_NS} THEN c.tns END AS ctns
  FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.tns <= c.tns
)
SELECT purchase_id, user_id,
       tns // 1000 AS purchase_us,
       ctns // 1000 AS next_click_us,
       (ctns - tns) // 1000000000 AS gap_s
FROM j
"""


# ---------------------------------------------------------------------------
# Q27: analytic window battery — lag delta + frame-spec moving average
# (rows between 3 preceding and current).  Both window passes share one
# (user_id) shuffle+sort; the moving sum accumulates in DECIMAL so the
# frame aggregation is order-independent across engines.
# ---------------------------------------------------------------------------


def q_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(-3, Window.currentRow)
    mov = (
        F.sum(F.col("value").cast("decimal(18,2)")).over(frame).cast("double")
        / F.count(F.lit(1)).over(frame).cast("double")
    )
    return events.select(
        "user_id",
        "event_id",
        "value",
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
        (F.round((mov) * F.lit(1e6), 0) / F.lit(1e6)).alias("moving_avg"),
    )


Q_WINDOW_ANALYTICS_SQL = """
SELECT user_id, event_id, value,
       value - lag(value) OVER w AS delta,
       ROUND((CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER f AS DOUBLE)
             / CAST(COUNT(*) OVER f AS DOUBLE)) * 1e6, 0) / 1e6 AS moving_avg
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
       f AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# Q28: ranking battery — rank / dense_rank / percent_rank / ntile over a
# total order (price DESC, key ASC tie-break ⇒ deterministic everywhere).
# ---------------------------------------------------------------------------


def q_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_testdata(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.rank().over(w).alias("price_rank"),
            F.dense_rank().over(w).alias("price_dense_rank"),
            (F.round((F.percent_rank().over(w)) * F.lit(1e6), 0) / F.lit(1e6)).alias("price_pct_rank"),
            F.ntile(10).over(w).alias("decile"),
        )
        .filter(F.col("price_rank") <= 100)
    )


Q_RANK_ORDERS_SQL = """
SELECT * FROM (
  SELECT o_orderkey, o_orderpriority, o_totalprice,
         RANK() OVER w AS price_rank,
         DENSE_RANK() OVER w AS price_dense_rank,
         ROUND((PERCENT_RANK() OVER w) * 1e6, 0) / 1e6 AS price_pct_rank,
         NTILE(10) OVER w AS decile
  FROM orders
  WINDOW w AS (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey ASC)
)
WHERE price_rank <= 100
"""


# ---------------------------------------------------------------------------
# Q29: distinct + pivot-style conditional aggregation.  COUNT(DISTINCT)
# adds an expand/two-phase agg; the per-status revenue columns are the
# manual (engine-portable) form of PIVOT, accumulated in DECIMAL.
# ---------------------------------------------------------------------------


def q_distinct_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_testdata(spark, sf_dir, "orders")

    def rev(status: str) -> Column:
        return dsum(F.when(F.col("o_orderstatus") == status, F.col("o_totalprice")))

    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_custs"),
        F.count(F.lit(1)).alias("n_orders"),
        rev("F").alias("rev_f"),
        rev("O").alias("rev_o"),
        rev("P").alias("rev_p"),
    )


def _rev_case_sql(status: str) -> str:
    return dsum_sql(f"CASE WHEN o_orderstatus = '{status}' THEN o_totalprice END")


Q_DISTINCT_PIVOT_SQL = f"""
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS n_custs,
       COUNT(*) AS n_orders,
       {_rev_case_sql("F")} AS rev_f,
       {_rev_case_sql("O")} AS rev_o,
       {_rev_case_sql("P")} AS rev_p
FROM orders
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Q30: exact interpolated percentiles per group — rank-selection form.
#
# `F.percentile` buffers every value of a group inside ONE aggregation
# state (an in-memory counts map sorted at the end): 7.3 s at sf0.1 and
# a per-reducer memory bomb at 100 TB.  Equivalent plan here: one
# exchange on the group key, in-partition sorts (two orders share the
# exchange), then pick the two rows straddling the target rank and
# interpolate with the SAME arithmetic Spark's percentile and DuckDB's
# quantile_cont use (lower + (upper - lower) * (pos - floor(pos))), so
# the oracle is unchanged.  Whole-stage codegen throughout; per-group
# state is O(1).  Exact percentiles still need a per-group total order —
# the unordered scale path is `approx_percentile` (t-digest, mergeable,
# one pass), which trades the oracle's bit-exactness for boundedness.
# ---------------------------------------------------------------------------


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = load_testdata(spark, sf_dir, "lineitem")
    flag = F.col("l_returnflag")
    lin = lineitem.select("l_returnflag", "l_quantity", "l_extendedprice")
    wq = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    wp = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wn = Window.partitionBy("l_returnflag")
    ranked = lin.select(
        flag,
        F.col("l_quantity").cast("double").alias("qty"),
        F.col("l_extendedprice").cast("double").alias("price"),
        F.row_number().over(wq).alias("rq"),
        F.row_number().over(wp).alias("rp"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def pick(p: float, rank_col: str, val_col: str) -> Column:
        pos = F.lit(p) * (F.col("n") - 1).cast("double")
        lo = F.floor(pos).cast("long") + 1  # row_number is 1-based
        hi = F.ceil(pos).cast("long") + 1
        v_lo = F.max(F.when(F.col(rank_col) == lo, F.col(val_col)))
        v_hi = F.max(F.when(F.col(rank_col) == hi, F.col(val_col)))
        frac = F.max(pos - F.floor(pos))
        return v_lo + (v_hi - v_lo) * frac

    return ranked.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        (F.round((pick(0.5, "rq", "qty")) * F.lit(1e6), 0) / F.lit(1e6)).alias("qty_p50"),
        (F.round((pick(0.9, "rq", "qty")) * F.lit(1e6), 0) / F.lit(1e6)).alias("qty_p90"),
        (F.round((pick(0.25, "rp", "price")) * F.lit(1e6), 0) / F.lit(1e6)).alias("price_p25"),
    )


Q_PERCENTILES_SQL = """
SELECT l_returnflag,
       COUNT(*) AS n,
       ROUND((quantile_cont(l_quantity, 0.5)) * 1e6, 0) / 1e6 AS qty_p50,
       ROUND((quantile_cont(l_quantity, 0.9)) * 1e6, 0) / 1e6 AS qty_p90,
       ROUND((quantile_cont(l_extendedprice, 0.25)) * 1e6, 0) / 1e6 AS price_p25
FROM lineitem
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Q30b: CUBE aggregation — all 2^2 grouping sets in one pass, with the
# grouping-id bit vector (identical LSB-first bit convention on both
# engines) disambiguating aggregated-away NULLs from data NULLs.
# ---------------------------------------------------------------------------


def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_testdata(spark, sf_dir, "orders")
    return orders.cube("o_orderpriority", "o_orderstatus").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("revenue"),
    )


Q_CUBE_REVENUE_SQL = f"""
SELECT o_orderpriority, o_orderstatus,
       GROUPING(o_orderpriority, o_orderstatus) AS gid,
       COUNT(*) AS n_orders,
       {dsum_sql("o_totalprice")} AS revenue
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""


# ---------------------------------------------------------------------------
# Q31: collection aggregation — per-user sorted distinct event types as
# one CSV string (order pinned by an explicit sort, so the set-typed
# aggregate is hash-comparable across engines).
# ---------------------------------------------------------------------------


def q_array_agg_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias(
            "types_csv"
        ),
    )


Q_ARRAY_AGG_USERS_SQL = """
SELECT user_id,
       COUNT(*) AS n_events,
       COUNT(DISTINCT event_type) AS n_types,
       array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types_csv
FROM events
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Q32: scalar string-function battery (upper / substring / lpad /
# regexp_extract / levenshtein / length) — all JVM-side, no UDFs.
# ---------------------------------------------------------------------------


def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    (part,) = load_testdata(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.substring("p_name", 1, 8).alias("name8"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size4"),
        F.regexp_extract("p_name", r"(\w+)$", 1).alias("last_word"),
        F.levenshtein("p_brand", F.lit("Brand#13")).alias("brand_lev"),
        F.length("p_name").alias("name_len"),
    )


Q_STRING_FUNCS_SQL = r"""
SELECT p_partkey,
       UPPER(p_brand) AS brand_u,
       SUBSTRING(p_name, 1, 8) AS name8,
       LPAD(CAST(p_size AS VARCHAR), 4, '0') AS size4,
       regexp_extract(p_name, '(\w+)$', 1) AS last_word,
       levenshtein(p_brand, 'Brand#13') AS brand_lev,
       LENGTH(p_name) AS name_len
FROM part
"""


# ---------------------------------------------------------------------------
# Q33: calendar rollup — revenue by order month.  The month key is a
# formatted string so both engines group on identical values, and the
# partial agg keeps the shuffle at O(distinct months).
# ---------------------------------------------------------------------------


def q_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_testdata(spark, sf_dir, "orders")
    return orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("revenue"),
    )


Q_MONTHLY_REVENUE_SQL = f"""
SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
       COUNT(*) AS n_orders,
       {dsum_sql("o_totalprice")} AS revenue
FROM orders
GROUP BY order_month
"""


# ---------------------------------------------------------------------------
# Q29+: the near-dedup / ANN / multimodal family.  Round 1 built these on
# Spark-only primitives (xxhash64, driver-side hyperplanes) so the driver
# recorded rows-only checks; they now run on the portable polynomial
# hashes of functions/hashing.py and explicit-literal hyperplanes, so
# every one has a full DuckDB oracle.
# ---------------------------------------------------------------------------

MINHASH_NUM = 32
MINHASH_BANDS = 8
MINHASH_SHINGLE_K = 5
MINHASH_THRESHOLD = 0.2
SIMHASH_HAMMING = 3


def _minhash_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified MinHash pair set every dedup consumer starts from,
    built inside the caller's own plan (``minhash_lsh_dedup``
    materializes its own multi-read legs)."""
    (documents,) = load_testdata(spark, sf_dir, "documents")
    return minhash_lsh_dedup(
        documents,
        num_hashes=MINHASH_NUM,
        bands=MINHASH_BANDS,
        shingle_k=MINHASH_SHINGLE_K,
        threshold=MINHASH_THRESHOLD,
    )


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _minhash_verified_pairs(spark, sf_dir)
    return pairs.select("id_a", "id_b", (F.round((F.col("jaccard")) * F.lit(1e6), 0) / F.lit(1e6)).alias("jaccard"))


def _minhash_rpb() -> int:
    return MINHASH_NUM // MINHASH_BANDS


Q_MINHASH_LSH_PAIRS_SQL = f"""
WITH h AS (
  SELECT doc_id, {sql_shingle_hashes("text", MINHASH_SHINGLE_K)} AS hashes
  FROM documents
),
sig AS (
  SELECT doc_id, {sql_minhash_sig("hashes", MINHASH_NUM)} AS sig FROM h
),
banded AS (
  SELECT doc_id, band_id,
         list_slice(sig, band_id * {_minhash_rpb()} + 1,
                    band_id * {_minhash_rpb()} + {_minhash_rpb()}) AS band_key
  FROM sig, (SELECT unnest(range(0, {MINHASH_BANDS})) AS band_id)
),
ok AS (
  SELECT band_id, band_key FROM banded GROUP BY band_id, band_key
  HAVING COUNT(*) BETWEEN 2 AND {MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN ok ON a.band_id = ok.band_id AND a.band_key = ok.band_key
  JOIN banded b ON a.band_id = b.band_id AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
),
sets AS (SELECT doc_id, list_distinct(hashes) AS s FROM h),
scored AS (
  SELECT id_a, id_b,
         CAST(length(list_intersect(sa.s, sb.s)) AS DOUBLE)
         / CAST(length(list_distinct(list_concat(sa.s, sb.s))) AS DOUBLE) AS j
  FROM cand
  JOIN sets sa ON sa.doc_id = cand.id_a
  JOIN sets sb ON sb.doc_id = cand.id_b
)
SELECT id_a, id_b, ROUND((j) * 1e6, 0) / 1e6 AS jaccard
FROM scored WHERE j >= {MINHASH_THRESHOLD}
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clusters over the verified MinHash pairs —
    iterative min-label propagation (operators/clusters.py), the
    genuinely iterative operator of the dedup family.  Deterministic
    (cluster id = min member id), so a DuckDB recursive CTE replays it
    exactly."""

    pairs = _minhash_verified_pairs(spark, sf_dir)
    comp = connected_components(pairs)
    return comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("node").alias("max_doc_id"),
    )


Q_DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE
mh AS ({Q_MINHASH_LSH_PAIRS_SQL}),
edges AS (SELECT id_a AS s, id_b AS d FROM mh
          UNION SELECT id_b AS s, id_a AS d FROM mh),
reach(node, r) AS (
  SELECT s AS node, s AS r FROM edges
  UNION
  SELECT e.s AS node, reach.r AS r FROM edges e JOIN reach ON e.d = reach.node
),
comp AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node)
SELECT cluster_id, COUNT(*) AS n_docs, MAX(node) AS max_doc_id
FROM comp GROUP BY cluster_id
"""


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End of the dedup funnel: the corpus with every non-survivor
    dropped (min-id survives per cluster; operators/clusters.py
    resolve_duplicates), summarized per source.  Starts from the same
    verified pair set as the pair/cluster queries."""

    (documents,) = load_testdata(spark, sf_dir, "documents")
    pairs = _minhash_verified_pairs(spark, sf_dir)
    survivors = resolve_duplicates(documents, pairs)
    return survivors.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_survivors"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


Q_DEDUP_SURVIVORS_SQL = f"""
WITH RECURSIVE
mh AS ({Q_MINHASH_LSH_PAIRS_SQL}),
edges AS (SELECT id_a AS s, id_b AS d FROM mh
          UNION SELECT id_b AS s, id_a AS d FROM mh),
reach(node, r) AS (
  SELECT s AS node, s AS r FROM edges
  UNION
  SELECT e.s AS node, reach.r AS r FROM edges e JOIN reach ON e.d = reach.node
),
comp AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node),
losers AS (SELECT node FROM comp WHERE node <> cluster_id)
SELECT source,
       COUNT(*) AS n_survivors,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM documents
WHERE doc_id NOT IN (SELECT node FROM losers)
GROUP BY source
"""


# ---------------------------------------------------------------------------
# PII redaction (training-pipeline op; functions/text.py PII_PATTERNS).
# The synthetic corpus carries no natural PII, so the query wraps each
# doc with DETERMINISTIC doc_id-derived contact strings (same expression
# in both engines) before counting and redacting — the op mechanics are
# fully exercised and hash-checked on nonzero values; crafted-string
# unit tests in tests/test_functions.py cover the patterns directly.
# ---------------------------------------------------------------------------


def _with_synthetic_pii(documents: DataFrame) -> DataFrame:
    doc_id = F.col("doc_id")
    contact = F.concat(
        F.col("text"),
        F.lit(" contact user"), doc_id, F.lit("@example.com or 10.0."),
        (doc_id % 256).cast("string"), F.lit(".7 call 555-"),
        F.lpad((doc_id % 1000).cast("string"), 3, "0"), F.lit("-"),
        F.lpad((doc_id % 10000).cast("string"), 4, "0"),
    )
    return documents.withColumn("text_pii", contact)


_SQL_SYNTH_PII = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 10.0.'"
    " || CAST(doc_id % 256 AS VARCHAR) || '.7 call 555-'"
    " || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'"
    " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    t = F.col("text_pii")
    enriched = _with_synthetic_pii(documents).select(
        "source",
        pii_count(t, "email").alias("n_email"),
        pii_count(t, "ipv4").alias("n_ipv4"),
        pii_count(t, "phone").alias("n_phone"),
        (F.length(t) - F.length(redact_pii(t))).alias("chars_removed"),
    )
    return enriched.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_email").alias("total_emails"),
        F.sum("n_ipv4").alias("total_ipv4s"),
        F.sum("n_phone").alias("total_phones"),
        F.sum("chars_removed").alias("total_chars_removed"),
    )


def _pii_sql() -> str:
    return f"""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM({sql_pii_count('text_pii', 'email')}) AS BIGINT) AS total_emails,
       CAST(SUM({sql_pii_count('text_pii', 'ipv4')}) AS BIGINT) AS total_ipv4s,
       CAST(SUM({sql_pii_count('text_pii', 'phone')}) AS BIGINT) AS total_phones,
       CAST(SUM(length(text_pii) - length({sql_redact_pii('text_pii')})) AS BIGINT)
         AS total_chars_removed
FROM (SELECT source, {_SQL_SYNTH_PII} AS text_pii FROM documents)
GROUP BY source
"""


Q_PII_REDACTION_SQL = _pii_sql()


# ---------------------------------------------------------------------------
# Top bigrams per language (training-pipeline op): tokenize → adjacent
# pairs → per-language frequency → top 3 (deterministic tie-break).
# ---------------------------------------------------------------------------

TOP_BIGRAMS_K = 3


#: Candidate-pruning fan-out for the two-phase top-k: each (lang, salt)
#: bucket keeps only its local top-k, so the final per-language sort
#: sees ≤ SALT_BUCKETS*k rows instead of every distinct bigram.  Any
#: value gives the same result; raise it with data volume.
TOP_BIGRAMS_SALT = 32


def q_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-k bigrams, two-phase.

    A naive `row_number() OVER (PARTITION BY lang ...)` funnels every
    distinct bigram of a language through ONE task's sort — with 4
    languages that is a 4-task bottleneck no matter the cluster size.
    Phase 1 salts the (already globally-counted) bigrams into
    TOP_BIGRAMS_SALT buckets per language and keeps each bucket's local
    top-k (a global top-k member is necessarily a member of its own
    bucket's top-k); phase 2 ranks the ≤ salt*k survivors per language —
    a trivially small sort.  Tie-break (count desc, bigram asc) is
    identical at both levels, so the result matches the naive form and
    the oracle's single window exactly."""
    (documents,) = load_testdata(spark, sf_dir, "documents")
    toks = documents.select(
        "lang", tokens(F.col("text")).alias("_toks")
    )
    grams = toks.select("lang", F.explode(bigrams(F.col("_toks"))).alias("bigram"))
    counts = grams.groupBy("lang", "bigram").agg(F.count(F.lit(1)).alias("n"))
    # phase 1: local top-k per (lang, salt) bucket.  The struct sorts
    # asc by (-n, bigram) = (count desc, bigram asc) — the exact final
    # order.  collect_list holds one bucket (≈ distinct-bigrams / salt
    # rows) before the slice; salt is the knob that bounds that state.
    salted = counts.withColumn(
        "_salt", F.pmod(F.hash("bigram"), F.lit(TOP_BIGRAMS_SALT))
    )
    local_topk = (
        salted.groupBy("lang", "_salt")
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(F.struct((-F.col("n")).alias("neg_n"), "bigram"))
                ),
                1,
                TOP_BIGRAMS_K,
            ).alias("cand")
        )
        .select("lang", F.explode("cand").alias("c"))
        .select("lang", F.col("c.bigram").alias("bigram"), (-F.col("c.neg_n")).alias("n"))
    )
    # phase 2: rank the few surviving candidates per language.
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("bigram"))
    return (
        local_topk.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_BIGRAMS_K)
        .select("lang", "bigram", "n", "rk")
    )


# DuckDB twin of functions.text.tokens (ASCII fold, split on whitespace,
# drop empties).
SQL_TOKS = (
    "list_filter(string_split_regex(translate(trim(text), "
    "'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+'), "
    "x -> x <> '')"
)

Q_TOP_BIGRAMS_SQL = f"""
WITH toks AS (SELECT lang, {SQL_TOKS} AS t FROM documents),
grams AS (
  SELECT lang, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
  FROM toks
),
counts AS (SELECT lang, bigram, COUNT(*) AS n FROM grams GROUP BY lang, bigram),
ranked AS (
  SELECT lang, bigram, n,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, bigram ASC) AS rk
  FROM counts
)
SELECT lang, bigram, n, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {TOP_BIGRAMS_K}
"""


# ---------------------------------------------------------------------------
# Context-window packing (training-pipeline op): assign docs to training
# windows by cumulative token budget within each source stream, in
# deterministic doc_id order — the relational form of sequence packing
# (greedy packers are order-dependent; the cumulative-bin rule is the
# deterministic, shuffle-once, engine-replayable variant).  window_id =
# floor(cum_tokens_before_doc / budget): one window function over a
# single (source)-partitioned sort, any engine computes it identically.
# ---------------------------------------------------------------------------

PACK_BUDGET = 2048


def q_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    n_tok = F.size(tokens(F.col("text")))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    packed = (
        documents.select("source", "doc_id", n_tok.alias("n_tok"))
        .withColumn("window_id", F.floor(cum_before / F.lit(PACK_BUDGET)))
    )
    return packed.groupBy("source").agg(
        F.countDistinct("window_id").alias("n_windows"),
        F.sum("n_tok").alias("total_tokens"),
        (F.round((F.sum("n_tok").cast("double")
            / (F.countDistinct("window_id").cast("double") * PACK_BUDGET)) * F.lit(1e6), 0) / F.lit(1e6)).alias("fill_ratio"),
    )


Q_CONTEXT_PACK_SQL = f"""
WITH toks AS (
  SELECT source, doc_id, length({SQL_TOKS}) AS n_tok FROM documents
),
packed AS (
  SELECT source, n_tok,
         CAST(FLOOR(COALESCE(SUM(n_tok) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / {PACK_BUDGET}) AS BIGINT) AS window_id
  FROM toks
)
SELECT source,
       CAST(COUNT(DISTINCT window_id) AS BIGINT) AS n_windows,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       ROUND((CAST(SUM(n_tok) AS DOUBLE)
             / (CAST(COUNT(DISTINCT window_id) AS DOUBLE) * {PACK_BUDGET})) * 1e6, 0) / 1e6
         AS fill_ratio
FROM packed
GROUP BY source
"""


# ---------------------------------------------------------------------------
# Deterministic split / sample (training-pipeline ops; operators/splits.py).
# Pure projections on a portable hash slot — no shuffle, engine-identical.
# ---------------------------------------------------------------------------

TRAIN_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}
SAMPLE_FRACTION = 0.1


def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible train/val/test assignment over the corpus with
    per-split-per-language profile — the standard pre-training split
    audit (split sizes, char budget per language)."""

    (documents,) = load_testdata(spark, sf_dir, "documents")
    return (
        split_assign(documents, TRAIN_SPLITS)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% corpus subsample, per-source profile.  The
    predicate is a pure integer comparison on the hashed id — membership
    survives any repartitioning (DataFrame.sample does not)."""

    (documents,) = load_testdata(spark, sf_dir, "documents")
    return stratified_sample(documents, SAMPLE_FRACTION).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


def _splits_sql() -> tuple[str, str]:
    return (
        sql_split_assign("doc_id", TRAIN_SPLITS),
        sql_stratified_sample_pred("doc_id", SAMPLE_FRACTION),
    )


Q_TRAIN_SPLIT_SQL = f"""
SELECT {_splits_sql()[0]} AS split,
       lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1, 2
"""

Q_STRATIFIED_SAMPLE_SQL = f"""
SELECT source,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM documents
WHERE {_splits_sql()[1]}
GROUP BY source
"""


def q_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination audit: verified near-duplicate pairs
    (the MinHash+LSH pipeline) bucketed by the train/val/test
    assignment of BOTH endpoints.  Any pair whose two
    docs land in different splits is evaluation leakage — a near-copy
    of a test document sitting in the training corpus, the
    highest-stakes audit a pre-training data team runs before a model
    sees the split.

    Plan shape: the expensive stage (shingle→signature→banded
    candidates→Jaccard verify) is the same pair set every other dedup
    consumer starts from (``_minhash_verified_pairs``); the
    split labels are pure projections on the hashed doc id (no join
    against an assignment table), so the audit itself is one small
    aggregation over the pair set — at 100 TB it costs one scan of the
    (already tiny relative to the corpus) pair table."""

    pairs = _minhash_verified_pairs(spark, sf_dir)
    lab = split_assign(
        split_assign(pairs, TRAIN_SPLITS, id_col="id_a", out_col="split_a"),
        TRAIN_SPLITS,
        id_col="id_b",
        out_col="split_b",
    )
    lo = F.least("split_a", "split_b")
    hi = F.greatest("split_a", "split_b")
    return (
        lab.select(
            lo.alias("split_lo"),
            hi.alias("split_hi"),
            "id_a",
            "id_b",
        )
        .groupBy("split_lo", "split_hi")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("id_a").alias("n_docs_a"),
            F.countDistinct("id_b").alias("n_docs_b"),
        )
        .withColumn("leaky", F.col("split_lo") != F.col("split_hi"))
    )


Q_LEAKAGE_AUDIT_SQL = f"""
WITH mh AS ({Q_MINHASH_LSH_PAIRS_SQL}),
lab AS (
  SELECT id_a, id_b,
         {{sa}} AS split_a,
         {{sb}} AS split_b
  FROM mh
)
SELECT LEAST(split_a, split_b) AS split_lo,
       GREATEST(split_a, split_b) AS split_hi,
       COUNT(*) AS n_pairs,
       COUNT(DISTINCT id_a) AS n_docs_a,
       COUNT(DISTINCT id_b) AS n_docs_b,
       LEAST(split_a, split_b) <> GREATEST(split_a, split_b) AS leaky
FROM lab
GROUP BY 1, 2
"""


def _leakage_audit_sql() -> str:
    return Q_LEAKAGE_AUDIT_SQL.format(
        sa=sql_split_assign("id_a", TRAIN_SPLITS),
        sb=sql_split_assign("id_b", TRAIN_SPLITS),
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    return simhash_dedup(documents, hamming_threshold=SIMHASH_HAMMING)


def _simhash_bands_sql() -> str:
    """(band_id, lo, mask) VALUES rows mirroring simhash_dedup's banded
    segmentation of the 62-bit hash."""

    bands = SIMHASH_HAMMING + 1
    seg_bits = H64_BITS // bands
    rows = []
    for i in range(bands):
        lo = i * seg_bits
        width = (H64_BITS - lo) if i == bands - 1 else seg_bits
        rows.append(f"({i}, {lo}, {(1 << width) - 1})")
    return ", ".join(rows)


Q_SIMHASH_PAIRS_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents
),
th AS (
  SELECT doc_id,
         list_transform(toks, t -> {sql_token_hash64("t")}) AS hs,
         len(toks) AS n
  FROM tok
),
sh AS (SELECT doc_id, {sql_simhash("hs", "n")} AS simhash FROM th),
banded AS (
  SELECT doc_id, simhash, band_id, (simhash >> lo) & mask AS segment
  FROM sh, (SELECT * FROM (VALUES {_simhash_bands_sql()}) t(band_id, lo, mask))
),
ok AS (
  SELECT band_id, segment FROM banded GROUP BY band_id, segment
  HAVING COUNT(*) BETWEEN 2 AND {MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM banded a
  JOIN ok ON a.band_id = ok.band_id AND a.segment = ok.segment
  JOIN banded b ON a.band_id = b.band_id AND a.segment = b.segment
             AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM cand WHERE hamming <= {SIMHASH_HAMMING}
"""


ANN_LSH_PLANES = 8
ANN_LSH_DIM = 64
ANN_LSH_SEED = 42


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k (the 100 TB-scale ANN path; exact
    twin is ``ann_cosine_topk``).  Hyperplanes are deterministic and the
    oracle embeds them as SQL literals, so the driver verifies the full
    bucket → multi-probe → score → rank pipeline."""

    (embeddings,) = load_testdata(spark, sf_dir, "embeddings")
    q = embeddings.filter(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), F.col("embedding").alias("qvec")
    )
    res = lsh_bucketed_topk(
        embeddings.filter("vec_id != 0"),
        q,
        k=TOP_K,
        n_planes=ANN_LSH_PLANES,
        dim=ANN_LSH_DIM,
        seed=ANN_LSH_SEED,
    )
    return res.select(
        "query_id", "vec_id", "label", (F.round((F.col("cosine")) * F.lit(1e6), 0) / F.lit(1e6)).alias("cosine"), "rank"
    )


def _ann_lsh_sql() -> str:
    """Oracle for q_ann_lsh_topk: hyperplanes as literal DOUBLE[] rows;
    dot/norm folds seeded with 0.0 so accumulation order matches the
    Spark zip_with/aggregate expressions exactly (sign decisions at
    proj >= 0 therefore agree bit-for-bit)."""

    planes = _hyperplanes(ANN_LSH_DIM, ANN_LSH_PLANES, ANN_LSH_SEED)
    plane_rows = ", ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in row)}])"
        for i, row in enumerate(planes)
    )
    fold = FOLD_SUM  # the ONE seeded-fold template (op-order contract)
    dot_plane = fold.format(
        terms=f"list_transform(range(1, {ANN_LSH_DIM} + 1), j -> e.vec[j] * pl.p[j])"
    )
    dot_q = fold.format(
        terms=f"list_transform(range(1, {ANN_LSH_DIM} + 1), j -> e.vec[j] * qv.vec[j])"
    )
    norm_e = "sqrt(" + fold.format(terms="list_transform(e.vec, v -> v * v)") + ")"
    norm_q = "sqrt(" + fold.format(terms="list_transform(qv.vec, v -> v * v)") + ")"
    cosine = (
        f"CASE WHEN {norm_e} * {norm_q} > 0 "
        f"THEN {dot_q} / ({norm_e} * {norm_q}) ELSE 0.0 END"
    )
    probes = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << i})" for i in range(ANN_LSH_PLANES)]
    )
    return f"""
WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings),
planes AS (SELECT * FROM (VALUES {plane_rows}) t(plane_id, p)),
sigs AS (
  SELECT e.vec_id,
         CAST(SUM(CASE WHEN {dot_plane} >= 0
                       THEN (CAST(1 AS BIGINT) << plane_id) ELSE 0 END)
              AS BIGINT) AS bucket
  FROM emb e CROSS JOIN planes pl
  GROUP BY e.vec_id
),
probes AS (
  SELECT DISTINCT unnest([{probes}]) AS pb FROM sigs WHERE vec_id = 0
),
scored AS (
  SELECT DISTINCT CAST(0 AS INTEGER) AS query_id, e.vec_id, e.label,
         {cosine} AS cosine
  FROM emb e
  JOIN sigs s ON e.vec_id = s.vec_id
  JOIN probes ON s.bucket = probes.pb
  CROSS JOIN (SELECT vec FROM emb WHERE vec_id = 0) qv
  WHERE e.vec_id <> 0
),
ranked AS (
  SELECT query_id, vec_id, label, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, label, ROUND((cosine) * 1e6, 0) / 1e6 AS cosine, rank
FROM ranked WHERE rank <= {TOP_K}
"""


Q_ANN_LSH_TOPK_SQL = _ann_lsh_sql()


IVF_NPROBE = 2
IVF_DIM = 64


def label_centroids_rows(spark: SparkSession, sf_dir: str, dim: int) -> list:
    """Decimal-stabilized per-label centroids, collected in ``cell_id``
    order: the coarse quantizer ``ann_ivf_topk`` and ``semantic_dedup``
    both probe."""

    (embeddings,) = load_testdata(spark, sf_dir, "embeddings")
    return sorted(
        centroids_from_labels(embeddings, dim=dim).collect(),
        key=lambda r: r["cell_id"],
    )


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (the data-dependent ANN scale path; the
    data-independent twin is ``ann_lsh_topk``, the exact baseline
    ``ann_cosine_topk``).  Coarse quantizer: decimal-stabilized
    per-label centroids, so the oracle rebuilds the identical table in
    SQL and replays cell assignment, probing, and ranking exactly."""

    (embeddings,) = load_testdata(spark, sf_dir, "embeddings")
    cents = label_centroids_rows(spark, sf_dir, IVF_DIM)
    q = embeddings.filter(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), F.col("embedding").alias("qvec")
    )
    res = ivf_topk(
        embeddings.filter("vec_id != 0"), q, cents, k=TOP_K, nprobe=IVF_NPROBE
    )
    return res.select(
        "query_id", "vec_id", "label", (F.round((F.col("cosine")) * F.lit(1e6), 0) / F.lit(1e6)).alias("cosine"), "rank"
    )


def _ann_ivf_sql() -> str:
    fold = FOLD_SUM  # the ONE seeded-fold template (op-order contract)

    def l2sq(a: str, b: str) -> str:
        return fold.format(
            terms=(
                f"list_transform(range(1, {IVF_DIM} + 1), "
                f"j -> ({a}[j] - {b}[j]) * ({a}[j] - {b}[j]))"
            )
        )

    dot_q = fold.format(
        terms=f"list_transform(range(1, {IVF_DIM} + 1), j -> e.vec[j] * qv.vec[j])"
    )
    norm_e = "sqrt(" + fold.format(terms="list_transform(e.vec, v -> v * v)") + ")"
    norm_q = "sqrt(" + fold.format(terms="list_transform(qv.vec, v -> v * v)") + ")"
    cosine = (
        f"CASE WHEN {norm_e} * {norm_q} > 0 "
        f"THEN {dot_q} / ({norm_e} * {norm_q}) ELSE 0.0 END"
    )
    return f"""
WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings),
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
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {l2sq("e.vec", "c.centroid")}, c.cell_id) AS rn
    FROM emb e CROSS JOIN cent c
  ) WHERE rn = 1
),
qcells AS (
  SELECT cell_id FROM (
    SELECT c.cell_id,
           ROW_NUMBER() OVER (
             ORDER BY {l2sq("qv.vec", "c.centroid")}, c.cell_id) AS rn
    FROM (SELECT vec FROM emb WHERE vec_id = 0) qv CROSS JOIN cent c
  ) WHERE rn <= {IVF_NPROBE}
),
scored AS (
  SELECT CAST(0 AS INTEGER) AS query_id, e.vec_id, e.label,
         {cosine} AS cosine
  FROM emb e
  JOIN assigned a ON e.vec_id = a.vec_id
  JOIN qcells ON a.cell_id = qcells.cell_id
  CROSS JOIN (SELECT vec FROM emb WHERE vec_id = 0) qv
  WHERE e.vec_id <> 0
),
ranked AS (
  SELECT query_id, vec_id, label, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, label, ROUND((cosine) * 1e6, 0) / 1e6 AS cosine, rank
FROM ranked WHERE rank <= {TOP_K}
"""


Q_ANN_IVF_TOPK_SQL = _ann_ivf_sql()


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    media = synthesize_media(documents)
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "modality",
        "n_bytes",
        (F.round((F.element_at("feature", 1)) * F.lit(1e6), 0) / F.lit(1e6)).alias("f0"),
        (F.round((F.element_at("feature", 16)) * F.lit(1e6), 0) / F.lit(1e6)).alias("f15"),
    )


# The stub codec is a 16-bin byte histogram over the UTF-8 payload (the
# documents text bytes), so bin 0 counts bytes < 16 and bin 15 bytes
# >= 240 — both recomputable in SQL (char positions == byte positions
# for the ASCII corpus; strlen is the byte length either way).
def _byte_bin_count_sql(cond: str) -> str:
    return (
        "CAST(len(list_filter(range(1, length(text) + 1), "
        f"i -> ascii(substr(text, i, 1)) {cond})) AS DOUBLE)"
    )


Q_MULTIMODAL_FEATURES_SQL = f"""
SELECT doc_id AS media_id,
       'image' AS modality,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       ROUND(({_byte_bin_count_sql("< 16")}
             / CAST(greatest(strlen(text), 1) AS DOUBLE)) * 1e6, 0) / 1e6 AS f0,
       ROUND(({_byte_bin_count_sql(">= 240")}
             / CAST(greatest(strlen(text), 1) AS DOUBLE)) * 1e6, 0) / 1e6 AS f15
FROM documents
"""


# ---------------------------------------------------------------------------
# Benchmark decontamination (training-pipeline op): training docs that
# CONTAIN a benchmark document, by distinct-shingle containment over an
# inverted hash index with a stop-shingle doc-frequency cap
# (operators/decontam.py).  The deterministic doc_id % DECONTAM_TEST_MOD
# split stands in for a real benchmark table; the portable polynomial
# hashes make the full pipeline oracle-replayable.
# ---------------------------------------------------------------------------

DECONTAM_SHINGLE_K = 8  # selective: matches are genuine embedded dups
DECONTAM_TEST_MOD = 19  # ~5% of the corpus plays the benchmark table
DECONTAM_TAU = 0.5
DECONTAM_MAX_DF = 1000


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    test = documents.filter(F.col("doc_id") % DECONTAM_TEST_MOD == 0)
    train = documents.filter(F.col("doc_id") % DECONTAM_TEST_MOD != 0)
    pairs = contamination_pairs(
        train,
        test,
        shingle_k=DECONTAM_SHINGLE_K,
        containment=DECONTAM_TAU,
        max_doc_freq=DECONTAM_MAX_DF,
    )
    return pairs.select(
        "train_id", "test_id", (F.round((F.col("containment")) * F.lit(1e6), 0) / F.lit(1e6)).alias("containment")
    )


Q_DECONTAMINATION_SQL = f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct({sql_shingle_hashes("text", DECONTAM_SHINGLE_K)}) AS s
  FROM documents
),
tr_h AS (
  SELECT doc_id AS train_id, unnest(s) AS h
  FROM sh WHERE doc_id % {DECONTAM_TEST_MOD} <> 0
),
ok AS (SELECT h FROM tr_h GROUP BY h HAVING COUNT(*) <= {DECONTAM_MAX_DF}),
te_h AS (
  SELECT doc_id AS test_id, length(s) AS n_test, unnest(s) AS h
  FROM sh WHERE doc_id % {DECONTAM_TEST_MOD} = 0
),
shared AS (
  SELECT train_id, test_id, n_test, COUNT(*) AS n_shared
  FROM tr_h JOIN ok USING (h) JOIN te_h USING (h)
  GROUP BY train_id, test_id, n_test
)
SELECT train_id, test_id,
       ROUND((CAST(n_shared AS DOUBLE) / CAST(n_test AS DOUBLE)) * 1e6, 0) / 1e6 AS containment
FROM shared
WHERE CAST(n_shared AS DOUBLE) / CAST(n_test AS DOUBLE) >= {DECONTAM_TAU}
"""


# ---------------------------------------------------------------------------
# Repetition ratio (training-pipeline op): the Gopher-style quality
# signal — fraction of repeated bigrams per doc (1 − distinct/total),
# aggregated per source with a count of docs above the flag threshold.
# Pure Column math over the shared tokenizer/bigram helpers; per-doc
# ratios are single divisions (engine-exact) and the per-source mean is
# decimal-stabilized like text_quality.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Embedding quantization (training-pipeline op): uint8 scalar
# quantization — the 8× storage tier under an IVF index at 100 TB.
# Per-dim min/max calibration (exact, order-independent → collected and
# embedded as literals, same cost class as a centroid table), transform
# quantize, reconstruction-error profile per label.  The oracle
# recomputes calibration inline (MIN/MAX of doubles are bit-identical
# across engines) and replays the same quantize→dequantize→left-fold
# error arithmetic.
# ---------------------------------------------------------------------------

QUANT_LEVELS = 255


def q_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    (embeddings,) = load_testdata(spark, sf_dir, "embeddings")
    mins, maxs = dim_min_max(embeddings, dim=IVF_DIM)
    q = quantize_embeddings(embeddings, mins, maxs, levels=QUANT_LEVELS)
    recon = dequantize(F.col("qvec"), mins, maxs, levels=QUANT_LEVELS)
    err = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            recon,
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    per_vec = q.select("label", err.alias("err"))
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (F.round((F.sum(F.col("err").cast("decimal(18,12)")).cast("double")
            / F.count(F.lit(1)).cast("double")) * F.lit(1e6), 0) / F.lit(1e6)).alias("avg_sq_err"),
        (F.round((F.max("err")) * F.lit(1e6), 0) / F.lit(1e6)).alias("max_sq_err"),
    )


def _quant_sql() -> str:
    # recon_i mirrors quantize→dequantize exactly: mn + round(...)/L*(mx−mn)
    recon = (
        f"(mm.mins[i] + CASE WHEN mm.maxs[i] > mm.mins[i] THEN "
        f"round((v[i] - mm.mins[i]) / (mm.maxs[i] - mm.mins[i]) * {QUANT_LEVELS}.0) "
        f"ELSE 0.0 END / {QUANT_LEVELS}.0 * (mm.maxs[i] - mm.mins[i]))"
    )
    err = FOLD_SUM.format(
        terms=(
            f"list_transform(range(1, {IVF_DIM} + 1), "
            f"i -> (v[i] - {recon}) * (v[i] - {recon}))"
        )
    )
    return f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
exploded AS (
  SELECT i AS dim, v[i] AS val
  FROM e, (SELECT unnest(range(1, {IVF_DIM} + 1)) AS i)
),
mmd AS (SELECT dim, MIN(val) AS mn, MAX(val) AS mx FROM exploded GROUP BY dim),
mm AS (SELECT list(mn ORDER BY dim) AS mins, list(mx ORDER BY dim) AS maxs FROM mmd),
per AS (SELECT label, {err} AS err FROM e, mm)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       ROUND((CAST(SUM(CAST(err AS DECIMAL(18,12))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE)) * 1e6, 0) / 1e6 AS avg_sq_err,
       ROUND((MAX(err)) * 1e6, 0) / 1e6 AS max_sq_err
FROM per GROUP BY label
"""


Q_EMBEDDING_QUANTIZATION_SQL = _quant_sql()


# ---------------------------------------------------------------------------
# Mixture sampling (training-pipeline op): per-source target fractions —
# the data-mixing step of every pre-training corpus (keep all of a
# high-quality source, a fraction of a crawl).  Same deterministic
# hash-slot membership as train_split / stratified_sample.
# ---------------------------------------------------------------------------

MIXTURE_FRACTIONS = {"src0": 1.0, "src1": 0.75, "src2": 0.5, "src3": 0.25}
MIXTURE_DEFAULT = 0.1


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    kept = mixture_sample(
        documents, MIXTURE_FRACTIONS, default=MIXTURE_DEFAULT
    ).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("doc_id").alias("min_doc_id"),
    )
    totals = documents.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    return totals.join(kept, "source", "left").select(
        "source",
        "n_total",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        "min_doc_id",
    )


def _mixture_sql() -> str:
    pred = sql_mixture_sample_pred(
        "doc_id", "source", MIXTURE_FRACTIONS, MIXTURE_DEFAULT
    )
    return f"""
WITH kept AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept, MIN(doc_id) AS min_doc_id
  FROM documents WHERE {pred} GROUP BY source
),
totals AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total FROM documents GROUP BY source
)
SELECT t.source, t.n_total, COALESCE(k.n_kept, 0) AS n_kept, k.min_doc_id
FROM totals t LEFT JOIN kept k USING (source)
"""


Q_MIXTURE_SAMPLE_SQL = _mixture_sql()


REPETITION_FLAG = 0.2


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    grams = bigrams(tokens(F.col("text")))
    n = F.size(grams)
    d = F.size(F.array_distinct(grams))
    rep = F.when(
        n > 0, F.lit(1.0) - d.cast("double") / n.cast("double")
    ).otherwise(F.lit(0.0))
    per_doc = documents.select("source", rep.alias("rep"))
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.round((F.sum(F.col("rep").cast("decimal(18,12)")).cast("double")
            / F.count(F.lit(1)).cast("double")) * F.lit(1e6), 0) / F.lit(1e6)).alias("avg_rep"),
        (F.round((F.max("rep")) * F.lit(1e6), 0) / F.lit(1e6)).alias("max_rep"),
        F.sum(
            F.when(F.col("rep") > REPETITION_FLAG, F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias("n_repetitive"),
    )


Q_REPETITION_STATS_SQL = f"""
WITH toks AS (SELECT source, {SQL_TOKS} AS t FROM documents),
g AS (
  SELECT source,
         list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS grams
  FROM toks
),
per AS (
  SELECT source,
         CASE WHEN len(grams) > 0
              THEN CAST(1 AS DOUBLE)
                   - CAST(len(list_distinct(grams)) AS DOUBLE)
                     / CAST(len(grams) AS DOUBLE)
              ELSE CAST(0 AS DOUBLE) END AS rep
  FROM g
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND((CAST(SUM(CAST(rep AS DECIMAL(18,12))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE)) * 1e6, 0) / 1e6 AS avg_rep,
       ROUND((MAX(rep)) * 1e6, 0) / 1e6 AS max_rep,
       CAST(SUM(CASE WHEN rep > {REPETITION_FLAG} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_repetitive
FROM per GROUP BY source
"""


# ---------------------------------------------------------------------------
# Registry.
# ---------------------------------------------------------------------------

QUERIES: dict[str, QueryFn] = {
    "filter_scan": q_filter_scan,
    "agg_pricing": q_agg_pricing,
    "join_regional_revenue": q_join_regional_revenue,
    "window_dedup": q_window_dedup,
    "theta_band_join": q_theta_band_join,
    "filter_predicates": q_filter_predicates,
    "time_of_day": q_time_of_day,
    "reliability": q_reliability,
    "flagship_punctuality": q_flagship_punctuality,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "ann_cosine_topk": q_ann_cosine_topk,
    "text_quality": q_text_quality,
    "quality_filter": q_quality_filter,
    "lang_id": q_lang_id,
    "doc_fingerprint": q_doc_fingerprint,
    "embedding_centroids": q_embedding_centroids,
    "topk_orders": q_topk_orders,
    "set_ops": q_set_ops,
    "semi_anti_join": q_semi_anti_join,
    "rollup_revenue": q_rollup_revenue,
    "cube_revenue": q_cube_revenue,
    "sessionization": q_sessionization,
    "json_extract": q_json_extract,
    "token_stats": q_token_stats,
    "embedding_neardup": q_embedding_neardup,
    "media_stats": q_media_stats,
    "asof_clicks": q_asof_clicks,
    "asof_next_click": q_asof_next_click,
    "window_analytics": q_window_analytics,
    "rank_orders": q_rank_orders,
    "distinct_pivot": q_distinct_pivot,
    "percentiles": q_percentiles,
    "array_agg_users": q_array_agg_users,
    "string_funcs": q_string_funcs,
    "monthly_revenue": q_monthly_revenue,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "simhash_pairs": q_simhash_pairs,
    "dedup_clusters": q_dedup_clusters,
    "dedup_survivors": q_dedup_survivors,
    "train_split": q_train_split,
    "stratified_sample": q_stratified_sample,
    "pii_redaction": q_pii_redaction,
    "top_bigrams": q_top_bigrams,
    "context_pack": q_context_pack,
    "multimodal_features": q_multimodal_features,
    "decontamination": q_decontamination,
    "leakage_audit": q_leakage_audit,
    "repetition_stats": q_repetition_stats,
    "embedding_quantization": q_embedding_quantization,
    "mixture_sample": q_mixture_sample,
}

ORACLE_SQL: dict[str, str] = {
    "filter_scan": Q_FILTER_SCAN_SQL,
    "agg_pricing": Q_AGG_PRICING_SQL,
    "join_regional_revenue": Q_JOIN_REGIONAL_REVENUE_SQL,
    "window_dedup": Q_WINDOW_DEDUP_SQL,
    "theta_band_join": Q_THETA_BAND_JOIN_SQL,
    "filter_predicates": Q_FILTER_PREDICATES_SQL,
    "time_of_day": Q_TIME_OF_DAY_SQL,
    "reliability": Q_RELIABILITY_SQL,
    "flagship_punctuality": Q_FLAGSHIP_PUNCTUALITY_SQL,
    "dedup_exact": Q_DEDUP_EXACT_SQL,
    "dedup_ngram_jaccard": Q_DEDUP_NGRAM_JACCARD_SQL,
    "ann_cosine_topk": Q_ANN_COSINE_TOPK_SQL,
    "text_quality": Q_TEXT_QUALITY_SQL,
    "quality_filter": Q_QUALITY_FILTER_SQL,
    "lang_id": Q_LANG_ID_SQL,
    "doc_fingerprint": Q_DOC_FINGERPRINT_SQL,
    "embedding_centroids": Q_EMBEDDING_CENTROIDS_SQL,
    "topk_orders": Q_TOPK_ORDERS_SQL,
    "set_ops": Q_SET_OPS_SQL,
    "semi_anti_join": Q_SEMI_ANTI_JOIN_SQL,
    "rollup_revenue": Q_ROLLUP_REVENUE_SQL,
    "cube_revenue": Q_CUBE_REVENUE_SQL,
    "sessionization": Q_SESSIONIZATION_SQL,
    "json_extract": Q_JSON_EXTRACT_SQL,
    "token_stats": Q_TOKEN_STATS_SQL,
    "embedding_neardup": Q_EMBEDDING_NEARDUP_SQL,
    "media_stats": Q_MEDIA_STATS_SQL,
    "asof_clicks": Q_ASOF_CLICKS_SQL,
    "asof_next_click": Q_ASOF_NEXT_CLICK_SQL,
    "window_analytics": Q_WINDOW_ANALYTICS_SQL,
    "rank_orders": Q_RANK_ORDERS_SQL,
    "distinct_pivot": Q_DISTINCT_PIVOT_SQL,
    "percentiles": Q_PERCENTILES_SQL,
    "array_agg_users": Q_ARRAY_AGG_USERS_SQL,
    "string_funcs": Q_STRING_FUNCS_SQL,
    "monthly_revenue": Q_MONTHLY_REVENUE_SQL,
    "ann_lsh_topk": Q_ANN_LSH_TOPK_SQL,
    "ann_ivf_topk": Q_ANN_IVF_TOPK_SQL,
    "minhash_lsh_pairs": Q_MINHASH_LSH_PAIRS_SQL,
    "simhash_pairs": Q_SIMHASH_PAIRS_SQL,
    "dedup_clusters": Q_DEDUP_CLUSTERS_SQL,
    "dedup_survivors": Q_DEDUP_SURVIVORS_SQL,
    "train_split": Q_TRAIN_SPLIT_SQL,
    "stratified_sample": Q_STRATIFIED_SAMPLE_SQL,
    "pii_redaction": Q_PII_REDACTION_SQL,
    "top_bigrams": Q_TOP_BIGRAMS_SQL,
    "context_pack": Q_CONTEXT_PACK_SQL,
    "multimodal_features": Q_MULTIMODAL_FEATURES_SQL,
    "decontamination": Q_DECONTAMINATION_SQL,
    "leakage_audit": _leakage_audit_sql(),
    "repetition_stats": Q_REPETITION_STATS_SQL,
    "embedding_quantization": Q_EMBEDDING_QUANTIZATION_SQL,
    "mixture_sample": Q_MIXTURE_SAMPLE_SQL,
}
