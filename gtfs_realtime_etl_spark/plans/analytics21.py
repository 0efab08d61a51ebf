"""Twenty-fifth query bank: EWMA anomaly scoring, conversion latency,
and DAU/MAU stickiness.

- ``ewma_daily_anomaly`` — exponentially weighted moving average of
  daily revenue per event type with EXACT dyadic weights: alpha = 1/2
  truncated at ``EWMA_LAGS`` trailing observations, so the EWMA
  numerator is ``P_t = sum_{k=1..L} x_{t(-k)} * 2^(L-k)`` where
  ``t(-k)`` is the k-th prior OBSERVED day for that type — lags are
  OBSERVATION-indexed, not calendar-indexed: ``LAG(x, k)`` over the
  (type, day) grain skips days with no events, so for a sparse type
  the k-th weight applies across whatever calendar gap separates the
  observations (consistent across engines; a calendar-day EWMA would
  require densifying each type's day axis with zero-fill first, which
  would also redefine "anomaly" for dormant types — deliberately not
  done).  The weight fan uses explicit LAG columns — the weight
  depends on the offset, which no plain window SUM expresses; L is a
  compile-time constant so the lag fan is fixed — and the weight
  total is the exact Mersenne ``2^L - 1``.  The anomaly score is the
  integer ratio
  ``|x_t*(2^L-1) - P_t| * 1e6 / max(P_t, 1)`` — a scale-free ppm
  deviation computed identically in both engines, no floats anywhere.
  Grain: |types| x |days| after one combinable shuffle — tiny at any
  corpus size.
- ``time_to_convert`` — conversion latency: per user, whole days from
  FIRST view to FIRST purchase (only counted when the purchase comes
  after the view), then the latency histogram with cumulative counts
  and cumulative share in ppm (one ordered window over the <= span
  histogram).  The per-user reduction is one min-aggregate — no
  event-pair joins.
- ``dau_mau_stickiness`` — DAU/MAU engagement: integer epoch days and
  30-day epoch windows (no calendar/timezone surface, the
  ``retention_cohorts`` idiom), per (type, window): distinct monthly
  actives via one distinct pass, summed daily actives via a
  (type, window, day) distinct pass, stickiness =
  ``sum(dau) * 1e6 / (n_days * mau)`` in exact ppm — the classic
  product-engagement ratio with both numerator and denominator exact.

Reference scope note: the reference (smohiudd/gtfs-realtime-etl) has
no analytics surface of this kind; these are driver-mandated
LLM-pipeline / warehouse extensions (SURVEY.md §7 step 7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.plans.base import CENTS, NS_PER_DAY
from gtfs_realtime_etl_spark.sources.testdata import load_testdata


# ---------------------------------------------------------------------------
# ewma_daily_anomaly
# ---------------------------------------------------------------------------

#: Trailing observations in the truncated EWMA (alpha = 1/2): weights
#: 2^(L-1) ... 2^0 over the L prior OBSERVED days (observation-indexed
#: lags, see module doc), total 2^L - 1.
EWMA_LAGS = 14
_EWMA_DEN = (1 << EWMA_LAGS) - 1


def ewma_daily_anomaly(events: DataFrame) -> DataFrame:
    """Kernel over an (event_type, ts, value) frame (see module doc)."""
    daily = (
        events.select(
            "event_type",
            F.expr(f"ts div {NS_PER_DAY}").alias("day"),
            F.expr(CENTS).alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").alias("x"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "day",
        "x",
        *[
            F.coalesce(F.lag("x", k).over(w), F.lit(0)).alias(f"l{k}")
            for k in range(1, EWMA_LAGS + 1)
        ],
    )
    p = " + ".join(
        f"l{k} * CAST({1 << (EWMA_LAGS - k)} AS BIGINT)"
        for k in range(1, EWMA_LAGS + 1)
    )
    scored = lagged.select(
        "event_type",
        F.col("day").cast("long").alias("day"),
        F.col("x").cast("long").alias("x_cents"),
        F.expr(f"CAST({p} AS BIGINT)").alias("p_num"),
    )
    return scored.select(
        "event_type",
        "day",
        "x_cents",
        "p_num",
        F.expr(
            f"CAST((CAST(p_num AS DECIMAL(38,0)) * 1000000)"
            f" div {_EWMA_DEN} AS BIGINT)"
        ).alias("ewma_micro"),
        F.expr(
            f"CAST((abs(CAST(x_cents AS DECIMAL(38,0)) * {_EWMA_DEN}"
            " - CAST(p_num AS DECIMAL(38,0))) * 1000000)"
            " div greatest(CAST(p_num AS DECIMAL(38,0)), CAST(1 AS"
            " DECIMAL(38,0))) AS BIGINT)"
        ).alias("anomaly_ppm"),
    )


def q_ewma_daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    return ewma_daily_anomaly(events)


def _ewma_sql() -> str:
    lags = ",\n         ".join(
        f"COALESCE(LAG(x, {k}) OVER (PARTITION BY event_type ORDER BY day),"
        f" 0) AS l{k}"
        for k in range(1, EWMA_LAGS + 1)
    )
    p = " + ".join(
        f"l{k} * CAST({1 << (EWMA_LAGS - k)} AS BIGINT)"
        for k in range(1, EWMA_LAGS + 1)
    )
    return f"""
WITH daily AS (
  SELECT event_type, epoch_ns(ts) // {NS_PER_DAY} AS day,
         CAST(SUM({CENTS}) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
lagged AS (
  SELECT event_type, day, x,
         {lags}
  FROM daily
),
scored AS (
  SELECT event_type, CAST(day AS BIGINT) AS day,
         CAST(x AS BIGINT) AS x_cents,
         CAST({p} AS BIGINT) AS p_num
  FROM lagged
)
SELECT event_type, day, x_cents, p_num,
       CAST((CAST(p_num AS HUGEINT) * 1000000) // {_EWMA_DEN} AS BIGINT)
         AS ewma_micro,
       CAST((abs(CAST(x_cents AS HUGEINT) * {_EWMA_DEN}
                 - CAST(p_num AS HUGEINT)) * 1000000)
            // GREATEST(CAST(p_num AS HUGEINT), CAST(1 AS HUGEINT))
         AS BIGINT) AS anomaly_ppm
FROM scored
"""


Q_EWMA_DAILY_ANOMALY_SQL = _ewma_sql()


# ---------------------------------------------------------------------------
# time_to_convert
# ---------------------------------------------------------------------------


def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    firsts = (
        events.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("user_id")
        .agg(
            F.min(
                F.expr("CASE WHEN event_type = 'view' THEN ts END")
            ).alias("first_view"),
            F.min(
                F.expr("CASE WHEN event_type = 'purchase' THEN ts END")
            ).alias("first_purchase"),
        )
        .filter(
            F.col("first_view").isNotNull()
            & F.col("first_purchase").isNotNull()
            & (F.col("first_purchase") > F.col("first_view"))
        )
    )
    hist = firsts.select(
        F.expr(
            f"(first_purchase - first_view) div {NS_PER_DAY}"
        ).alias("delay_days")
    ).groupBy("delay_days").agg(F.count(F.lit(1)).alias("n_users"))
    w = (
        Window.partitionBy()
        .orderBy("delay_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy()
    return (
        hist.withColumn("cum_users", F.sum("n_users").over(w))
        .withColumn("total", F.sum("n_users").over(tot))
        .select(
            F.col("delay_days").cast("long").alias("delay_days"),
            F.col("n_users").cast("long").alias("n_users"),
            F.col("cum_users").cast("long").alias("cum_users"),
            F.expr(
                "CAST((CAST(cum_users AS DECIMAL(38,0)) * 1000000)"
                " div CAST(total AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("cum_share_ppm"),
        )
    )


Q_TIME_TO_CONVERT_SQL = f"""
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN epoch_ns(ts) END)
           AS first_view,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END)
           AS first_purchase
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY 1
),
conv AS (
  SELECT (first_purchase - first_view) // {NS_PER_DAY} AS delay_days
  FROM firsts
  WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
    AND first_purchase > first_view
),
hist AS (
  SELECT delay_days, CAST(COUNT(*) AS BIGINT) AS n_users
  FROM conv GROUP BY 1
)
SELECT CAST(delay_days AS BIGINT) AS delay_days, n_users,
       CAST(SUM(n_users) OVER (ORDER BY delay_days
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_users,
       CAST((CAST(SUM(n_users) OVER (ORDER BY delay_days
                                     ROWS UNBOUNDED PRECEDING)
                  AS HUGEINT) * 1000000)
            // CAST(SUM(n_users) OVER () AS HUGEINT) AS BIGINT)
         AS cum_share_ppm
FROM hist
"""


# ---------------------------------------------------------------------------
# dau_mau_stickiness
# ---------------------------------------------------------------------------

#: Epoch-window width in days (a fixed 30-day window, not a calendar
#: month — keeps the whole query in integer epoch arithmetic).
MAU_WINDOW_DAYS = 30


def q_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    base = events.select(
        "event_type",
        "user_id",
        F.expr(f"ts div {NS_PER_DAY}").alias("day"),
    ).withColumn("win", F.expr(f"day div {MAU_WINDOW_DAYS}"))
    dau = (
        base.select("event_type", "win", "day", "user_id")
        .distinct()
        .groupBy("event_type", "win")
        .agg(
            F.count(F.lit(1)).alias("dau_sum"),
            F.countDistinct("day").alias("n_days"),
        )
    )
    mau = (
        base.select("event_type", "win", "user_id")
        .distinct()
        .groupBy("event_type", "win")
        .agg(F.count(F.lit(1)).alias("mau"))
    )
    return dau.join(mau, ["event_type", "win"]).select(
        "event_type",
        F.col("win").cast("long").alias("win"),
        F.col("n_days").cast("long").alias("n_days"),
        F.col("dau_sum").cast("long").alias("dau_sum"),
        F.col("mau").cast("long").alias("mau"),
        F.expr(
            "CAST((CAST(dau_sum AS DECIMAL(38,0)) * 1000000)"
            " div (CAST(n_days AS DECIMAL(38,0))"
            " * CAST(mau AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("stickiness_ppm"),
    )


Q_DAU_MAU_STICKINESS_SQL = f"""
WITH base AS (
  SELECT event_type, user_id,
         epoch_ns(ts) // {NS_PER_DAY} AS day,
         (epoch_ns(ts) // {NS_PER_DAY}) // {MAU_WINDOW_DAYS} AS win
  FROM events
),
dau AS (
  SELECT event_type, win,
         CAST(COUNT(*) AS BIGINT) AS dau_sum,
         CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days
  FROM (SELECT DISTINCT event_type, win, day, user_id FROM base)
  GROUP BY 1, 2
),
mau AS (
  SELECT event_type, win, CAST(COUNT(*) AS BIGINT) AS mau
  FROM (SELECT DISTINCT event_type, win, user_id FROM base)
  GROUP BY 1, 2
)
SELECT d.event_type, CAST(d.win AS BIGINT) AS win, d.n_days, d.dau_sum,
       m.mau,
       CAST((CAST(d.dau_sum AS HUGEINT) * 1000000)
            // (CAST(d.n_days AS HUGEINT) * CAST(m.mau AS HUGEINT))
         AS BIGINT) AS stickiness_ppm
FROM dau d JOIN mau m ON d.event_type = m.event_type AND d.win = m.win
"""


QUERIES = {
    "ewma_daily_anomaly": q_ewma_daily_anomaly,
    "time_to_convert": q_time_to_convert,
    "dau_mau_stickiness": q_dau_mau_stickiness,
}

ORACLE_SQL = {
    "ewma_daily_anomaly": Q_EWMA_DAILY_ANOMALY_SQL,
    "time_to_convert": Q_TIME_TO_CONVERT_SQL,
    "dau_mau_stickiness": Q_DAU_MAU_STICKINESS_SQL,
}
