"""Seventeenth query bank: marketing attribution, quantile
normalization, RFM segmentation, and the two-proportion A/B z-test.

- ``funnel_attribution`` — first-touch / last-touch conversion
  attribution: for every conversion event, the first and the most
  recent PRECEDING touch event by the same user (classic marketing
  models).  One user shuffle; both touches come from the SAME ordered
  window via ``FIRST_VALUE/LAST_VALUE(... IGNORE NULLS)`` over a
  marketing-only projection (non-touch rows are NULL and skipped) —
  no self-join, no per-conversion scan.  Conversions with no prior
  touch report as ``(none)``.  Output: conversions per (model,
  touch_type) — <= ~10 rows.
- ``quantile_normalization`` — map each source's value distribution
  onto the pooled distribution by rank (the bioinformatics /
  feature-prep classic).  The pooled reference is a 101-point exact
  percentile GRID computed by a TWO-LEVEL exact rank (distributed
  distinct-value histogram -> bucketed cumulative ranks -> <=202-row
  broadcast range join; see ``_qn_pooled_grid``) — no single-buffer
  ``percentile()`` aggregate and NOT a global
  row-level sort — rank-to-quantile happens per source via
  ``percent_rank`` inside the per-source window, so the only row-level
  sort is per-source (the partitioned-window shape that survives
  scale).  Grid index = floor(percent_rank * 100 + 0.5): pure IEEE
  double ops on exact integers, identical in both engines; the
  normalized value is quantized to integer cents.  Output grain is
  (source, grid index) so every output column is engine-exact — no
  float sums ever cross rows.
- ``rfm_segments`` — Recency / Frequency / Monetary quintile
  segmentation of customers from their orders (the classic CRM
  cut).  Customer-grain aggregates first (one shuffle), then three
  ``ntile(5)`` windows over the CUSTOMER table — dim-grain by
  construction (~150k rows per million customers), each ordered with
  a custkey tie-break so the quintile assignment is a total order and
  engine-exact.  Output: customers + exact mean monetary cents per
  (r, f, m) segment.
- ``ab_test_ztest`` — two-proportion z-test per event type between
  the user-parity halves (the A/B experiment readout): success =
  ``value >= AB_SUCCESS_CUT``; counts are exact integers, the pooled
  z-statistic is computed from them with IDENTICAL double expression
  order in Spark and the oracle (int->double exact below 2^53, one
  sqrt), so even the |z| > 1.96 significance boolean is engine-exact.
  One scan, one <= #event-types-row aggregate.

Reference scope note: the reference (smohiudd/gtfs-realtime-etl) has
no analytics surface of this kind; these are driver-mandated
LLM-pipeline / warehouse extensions (SURVEY.md §7 step 7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.functions.exprs import lit_double_array
from gtfs_realtime_etl_spark.sources.testdata import load_testdata


# ---------------------------------------------------------------------------
# funnel_attribution
# ---------------------------------------------------------------------------

CONVERSION_TYPE = "purchase"
TOUCH_TYPES = ("click", "view")


def q_funnel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    touch = F.when(
        F.col("event_type").isin(*TOUCH_TYPES), F.col("event_type")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    attributed = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("first_touch", F.first(touch, ignorenulls=True).over(w))
        .withColumn("last_touch", F.last(touch, ignorenulls=True).over(w))
        .filter(F.col("event_type") == CONVERSION_TYPE)
    )
    # Both models from ONE window pass: in-row unpivot, then a single
    # tiny group-by (a unionByName of two groupBys would replay the
    # corpus window per model).
    both = attributed.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("first").alias("model"),
                    F.coalesce(F.col("first_touch"), F.lit("(none)")).alias(
                        "touch_type"
                    ),
                ),
                F.struct(
                    F.lit("last").alias("model"),
                    F.coalesce(F.col("last_touch"), F.lit("(none)")).alias(
                        "touch_type"
                    ),
                ),
            )
        ).alias("mt")
    )
    return both.groupBy("mt.model", "mt.touch_type").agg(
        F.count(F.lit(1)).alias("n_conversions")
    )


Q_FUNNEL_ATTRIBUTION_SQL = f"""
WITH marked AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN event_type IN {TOUCH_TYPES!r} THEN event_type END AS touch
  FROM events
),
attributed AS (
  SELECT event_type,
         FIRST_VALUE(touch IGNORE NULLS) OVER w AS first_touch,
         LAST_VALUE(touch IGNORE NULLS) OVER w AS last_touch
  FROM marked
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
conv AS (SELECT * FROM attributed WHERE event_type = '{CONVERSION_TYPE}')
SELECT 'first' AS model, COALESCE(first_touch, '(none)') AS touch_type,
       CAST(COUNT(*) AS BIGINT) AS n_conversions
FROM conv GROUP BY 2
UNION ALL
SELECT 'last' AS model, COALESCE(last_touch, '(none)') AS touch_type,
       CAST(COUNT(*) AS BIGINT) AS n_conversions
FROM conv GROUP BY 2
"""


# ---------------------------------------------------------------------------
# quantile_normalization
# ---------------------------------------------------------------------------

QN_GRID = 100  # grid of 101 exact percentiles (0..100)
QN_BUCKETS = 256  # value-range buckets for the two-level exact rank


def _qn_pooled_grid(events: DataFrame) -> DataFrame:
    """Exact 101-point pooled percentile grid as a 1-row DataFrame —
    WITHOUT Spark's single-buffer ``percentile()`` aggregate (which
    holds every pooled value in ONE final aggregation buffer: an
    O(distinct values) single-task memory hazard at scale).  Two-level
    exact grid instead:

    1. distinct-value histogram (distributed ``groupBy(value)``);
    2. global 0-based cumulative rank ranges per distinct value via
       value-range buckets — local window cumsum within each bucket
       plus broadcast per-bucket prefix offsets (the key_skew_report /
       epoch_shuffle two-level rank, re-keyed by value range);
    3. the <=202 bracketing ranks for the 101 interpolation targets
       broadcast-join the histogram on a rank-range predicate;
    4. linear interpolation ``lower + (higher - lower) * frac`` at
       ``pos = q * (n - 1)`` — DuckDB ``quantile_cont``'s formula, so
       cross-engine parity holds by construction.

    Every stage is bounded: the widest intermediate is the distinct
    histogram (distributed), the only single-task window is over the
    <=QN_BUCKETS bucket-offset rows.
    """
    stats = events.agg(
        F.min("value").alias("vlo"),
        F.max("value").alias("vhi"),
        F.count("value").alias("n"),
    )  # 1 row, broadcast-class
    dv = (
        events.where(F.col("value").isNotNull())
        .groupBy("value")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    span = F.col("vhi") - F.col("vlo")
    bucketed = dv.crossJoin(F.broadcast(stats)).withColumn(
        "bkt",
        F.when(
            span > 0,
            F.least(
                F.lit(QN_BUCKETS - 1),
                F.floor(
                    (F.col("value") - F.col("vlo")) / span * QN_BUCKETS
                ),
            ),
        )
        .otherwise(F.lit(0))
        .cast("int"),
    )
    local = bucketed.withColumn(
        "cum_local",
        F.sum("cnt").over(
            Window.partitionBy("bkt")
            .orderBy("value")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    offsets = (
        bucketed.groupBy("bkt")
        .agg(F.sum("cnt").alias("bn"))
        .withColumn(
            "off",
            F.coalesce(
                F.sum("bn").over(
                    Window.orderBy("bkt").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("bkt", "off")
    )
    ranked = local.join(F.broadcast(offsets), "bkt").select(
        "value",
        (F.col("off") + F.col("cum_local") - F.col("cnt")).alias("lo_rank"),
        (F.col("off") + F.col("cum_local") - 1).alias("hi_rank"),
    )
    qs = lit_double_array(i / QN_GRID for i in range(QN_GRID + 1))
    targets = (
        stats.select("n", F.posexplode(qs).alias("gidx", "q"))
        .withColumn(
            "pos", F.col("q") * (F.col("n") - 1).cast("double")
        )
        .withColumn("k", F.floor("pos").cast("long"))
        .select(
            "gidx",
            "pos",
            "k",
            F.explode(
                F.array(F.col("k"), F.least(F.col("k") + 1, F.col("n") - 1))
            ).alias("r"),
        )
    )  # <= 202 rows, broadcast-class
    vals = ranked.join(
        F.broadcast(targets),
        (F.col("r") >= F.col("lo_rank")) & (F.col("r") <= F.col("hi_rank")),
    )
    interp = vals.groupBy("gidx", "pos", "k").agg(
        F.max(F.when(F.col("r") == F.col("k"), F.col("value"))).alias("v_lo"),
        F.max(F.when(F.col("r") != F.col("k"), F.col("value"))).alias("v_hi"),
    )
    pv = F.col("v_lo") + (
        F.coalesce(F.col("v_hi"), F.col("v_lo")) - F.col("v_lo")
    ) * (F.col("pos") - F.col("k").cast("double"))
    return (
        interp.select("gidx", pv.alias("pv"))
        .agg(F.array_sort(F.collect_list(F.struct("gidx", "pv"))).alias("s"))
        .select(F.transform("s", lambda x: x["pv"]).alias("grid"))
    )


def q_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    grid = _qn_pooled_grid(events)  # 1 row, broadcast-class
    w = Window.partitionBy("source").orderBy("value", "event_id")
    ranked = (
        events.select(
            F.col("event_type").alias("source"), "event_id", "value"
        )
        .withColumn("pr", F.percent_rank().over(w))
        .withColumn(
            "idx", F.floor(F.col("pr") * QN_GRID + F.lit(0.5)).cast("int")
        )
    )
    return (
        ranked.crossJoin(F.broadcast(grid))
        .select(
            "source",
            "idx",
            F.floor(
                F.element_at("grid", F.col("idx") + 1) * 100 + F.lit(0.5)
            )
            .cast("long")
            .alias("norm_cents"),
        )
        .groupBy("source", "idx", "norm_cents")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _qn_sql() -> str:
    ps = ", ".join(str(i / QN_GRID) for i in range(QN_GRID + 1))
    return f"""
WITH grid AS (
  SELECT quantile_cont(value, [{ps}]) AS grid FROM events
),
ranked AS (
  SELECT event_type AS source, event_id, value,
         PERCENT_RANK() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS pr
  FROM events
),
mapped AS (
  SELECT source, CAST(FLOOR(pr * {QN_GRID} + 0.5) AS INT) AS idx
  FROM ranked
)
SELECT source, idx,
       CAST(FLOOR(grid[idx + 1] * 100 + 0.5) AS BIGINT) AS norm_cents,
       CAST(COUNT(*) AS BIGINT) AS n
FROM mapped, grid
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# rfm_segments
# ---------------------------------------------------------------------------

RFM_Q = 5


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_testdata(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("monetary_cents"),
    )
    rq = F.ntile(RFM_Q).over(
        Window.orderBy(F.asc("last_order"), F.asc("o_custkey"))
    )
    fq = F.ntile(RFM_Q).over(
        Window.orderBy(F.asc("freq"), F.asc("o_custkey"))
    )
    mq = F.ntile(RFM_Q).over(
        Window.orderBy(F.asc("monetary_cents"), F.asc("o_custkey"))
    )
    return (
        cust.select(
            "monetary_cents",
            rq.alias("r_q"),
            fq.alias("f_q"),
            mq.alias("m_q"),
        )
        .groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.expr("sum(monetary_cents) div count(1)").alias(
                "avg_monetary_cents"
            ),
        )
    )


Q_RFM_SEGMENTS_SQL = f"""
WITH cust AS (
  SELECT o_custkey, MAX(o_orderdate) AS last_order,
         COUNT(*) AS freq,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS monetary_cents
  FROM orders GROUP BY 1
),
q AS (
  SELECT monetary_cents,
         NTILE({RFM_Q}) OVER (ORDER BY last_order, o_custkey) AS r_q,
         NTILE({RFM_Q}) OVER (ORDER BY freq, o_custkey) AS f_q,
         NTILE({RFM_Q}) OVER (ORDER BY monetary_cents, o_custkey) AS m_q
  FROM cust
)
SELECT r_q, f_q, m_q, CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(monetary_cents) // COUNT(*) AS BIGINT)
         AS avg_monetary_cents
FROM q GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# ab_test_ztest
# ---------------------------------------------------------------------------

AB_SUCCESS_CUT = 50.0
AB_Z_CRIT = 1.96


def q_ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    g = events.groupBy("event_type").agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0)).alias("n1"),
        F.sum(
            F.when(
                (F.col("user_id") % 2 == 0)
                & (F.col("value") >= AB_SUCCESS_CUT),
                1,
            ).otherwise(0)
        ).alias("x1"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0)).alias("n2"),
        F.sum(
            F.when(
                (F.col("user_id") % 2 == 1)
                & (F.col("value") >= AB_SUCCESS_CUT),
                1,
            ).otherwise(0)
        ).alias("x2"),
    )
    # Identical expression order in both engines: p1, p2, pooled p,
    # se, z — every input an exact integer.  The z expression is
    # guarded so degenerate groups (an empty parity half, or pooled p
    # in {0, 1}, where se = 0) yield an explicit NULL in BOTH engines
    # instead of Spark's NULL-on-divide vs DuckDB's IEEE inf/NaN.
    z = F.expr(
        "CASE WHEN n1 > 0 AND n2 > 0"
        " AND x1 + x2 > 0 AND x1 + x2 < n1 + n2 THEN"
        " (cast(x1 as double) / cast(n1 as double)"
        " - cast(x2 as double) / cast(n2 as double))"
        " / sqrt((cast(x1 + x2 as double) / cast(n1 + n2 as double))"
        " * (1.0 - cast(x1 + x2 as double) / cast(n1 + n2 as double))"
        " * (1.0 / cast(n1 as double) + 1.0 / cast(n2 as double))) END"
    )
    return g.select(
        "event_type",
        "n1",
        "x1",
        "n2",
        "x2",
        (F.round((z) * F.lit(1e6), 0) / F.lit(1e6)).alias("z_stat"),
        (F.abs(z) > AB_Z_CRIT).alias("significant"),
    )


Q_AB_TEST_ZTEST_SQL = f"""
WITH g AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN user_id % 2 = 0 AND value >= {AB_SUCCESS_CUT!r}
                  THEN 1 ELSE 0 END) AS BIGINT) AS x1,
         CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN user_id % 2 = 1 AND value >= {AB_SUCCESS_CUT!r}
                  THEN 1 ELSE 0 END) AS BIGINT) AS x2
  FROM events GROUP BY 1
),
z AS (
  SELECT *,
         CASE WHEN n1 > 0 AND n2 > 0
                   AND x1 + x2 > 0 AND x1 + x2 < n1 + n2 THEN
           (CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
            - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE))
           / sqrt((CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                  * (1.0 - CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                  * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE)))
         END AS zv
  FROM g
)
SELECT event_type, n1, x1, n2, x2,
       ROUND((zv) * 1e6, 0) / 1e6 AS z_stat, ABS(zv) > {AB_Z_CRIT!r} AS significant
FROM z
"""


QUERIES = {
    "funnel_attribution": q_funnel_attribution,
    "quantile_normalization": q_quantile_normalization,
    "rfm_segments": q_rfm_segments,
    "ab_test_ztest": q_ab_test_ztest,
}

ORACLE_SQL = {
    "funnel_attribution": Q_FUNNEL_ATTRIBUTION_SQL,
    "quantile_normalization": _qn_sql(),
    "rfm_segments": Q_RFM_SEGMENTS_SQL,
    "ab_test_ztest": Q_AB_TEST_ZTEST_SQL,
}
