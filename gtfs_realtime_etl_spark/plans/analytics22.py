"""Twenty-sixth query bank: incremental flagship (multi-day
partition-pruned schedule-deviation maintenance).

- ``flagship_incremental`` — the reference's flagship punctuality
  aggregate (reference notebook analysis.ipynb cells 8-13: per-stop
  deviation stats + normal-CDF reliability) restated as an INCREMENTAL
  rollup over a rolling date range, the shape a production lake
  actually runs nightly:

  1. the fact scan is restricted to the trailing
     ``FLAGSHIP_RANGE_DAYS`` days FIRST (in production the cutoff is a
     literal from the load manifest, so on a date-partitioned lake the
     predicate prunes partitions at planning time; the registry form
     derives it from ``max(day)`` — one tiny extra aggregate — because
     the synthetic corpus has no external manifest);
  2. each day folds independently into an exact per-(n_name, day)
     PARTIAL state ``(n_d, s1_d, s2_d)`` — count and BIGINT sums of
     diff and diff² (diff is an int of seconds, so the moments are
     exact integers; the per-(user, day) rn=1 dedup window is
     day-local, so a day's partial never depends on any other day —
     the property that makes per-partition fold-as-it-lands correct);
  3. partials merge by plain SUM (commutative monoid — any slicing of
     the input days yields the identical merged state, the
     ``operators/incremental.py`` contract) and finalize with the
     flagship's exact formula order: avg/stddev from the merged
     moments in pinned double op order, reliability =
     Φ(z_hi) − Φ(z_lo) via the portable A&S ``norm_cdf``, mult-form
     6-dp rounding.

  At 100 TB: the range predicate prunes the scan to D days; each day
  is one map-side-combinable aggregate at (n_name, day) grain (25 × D
  rows); the merge is a broadcast-size second aggregate.  Nothing
  rescans history, and yesterday's partials never recompute — the
  nightly cost is ONE new day's fold plus a 25·D-row merge.
  ``tests/test_flagship_incremental.py`` drives the actual cross-job
  contract: per-day partials computed as SEPARATE jobs over a
  date-partitioned lake (partition pruning asserted on the plan)
  merge to the bit-identical result of the one-shot query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.functions.stats import norm_cdf, norm_cdf_sql
from gtfs_realtime_etl_spark.plans.base import NS_PER_DAY
from gtfs_realtime_etl_spark.sources.testdata import load_testdata


_NS_PER_SEC = 1_000_000_000
_NOON = 12 * 3600

#: Rolling window of trailing days the incremental flagship maintains.
FLAGSHIP_RANGE_DAYS = 7


def flagship_day_partials(
    events: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Exact per-(n_name, day) flagship partial state over any slice
    of the events table: ``(n_d, s1_d, s2_d)`` = count / sum(diff) /
    sum(diff²) as BIGINT.  Day-local by construction (the rn=1 dedup
    window partitions by (user_id, day)), so folding day slices
    separately and merging equals folding everything at once."""
    pings = (
        events.filter(F.col("event_type").isin("view", "click"))
        .select(
            "user_id",
            "event_id",
            F.expr(f"CAST(ts div {NS_PER_DAY} AS INT)").alias("day"),
            (
                F.expr(f"CAST((ts div {_NS_PER_SEC}) % 86400 AS INT)")
                - F.lit(_NOON)
            ).alias("diff"),
        )
        .filter(F.col("diff").between(-3600, 3600))
    )
    w = Window.partitionBy("user_id", "day").orderBy(
        F.asc(F.abs(F.col("diff"))), F.asc("event_id")
    )
    best = pings.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    joined = best.join(
        F.broadcast(customer), best["user_id"] == customer["c_custkey"]
    ).join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    return joined.groupBy("n_name", "day").agg(
        F.count("diff").cast("long").alias("n_d"),
        F.sum("diff").cast("long").alias("s1_d"),
        F.sum(
            F.expr("CAST(diff AS BIGINT) * CAST(diff AS BIGINT)")
        ).cast("long").alias("s2_d"),
    )


def merge_flagship_partials(partials: DataFrame) -> DataFrame:
    """Merge per-day partial states and finalize the flagship output
    (count > 1 per nation, avg/stddev/reliability rounded to 6 dp via
    the mult-form).  SUM-merge is associative and the integer moments
    are exact, so ANY day slicing of the inputs finalizes to the
    bit-identical frame."""
    merged = (
        partials.groupBy("n_name")
        .agg(
            F.countDistinct("day").cast("long").alias("n_days"),
            F.sum("n_d").cast("long").alias("count"),
            F.sum("s1_d").cast("long").alias("s1"),
            F.sum("s2_d").cast("long").alias("s2"),
        )
        .filter(F.col("count") > 1)
    )
    n = F.col("count").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    avg = s1 / n
    var = (s2 - (s1 * s1) / n) / (n - F.lit(1.0))
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    z_min = (F.lit(-60.0) - avg) / std
    z_max = (F.lit(300.0) - avg) / std
    return merged.select(
        "n_name",
        "n_days",
        "count",
        (F.round(avg * F.lit(1e6), 0) / F.lit(1e6)).alias("avg_diff_r"),
        (F.round(std * F.lit(1e6), 0) / F.lit(1e6)).alias("stddev_diff_r"),
        (
            F.round((norm_cdf(z_max) - norm_cdf(z_min)) * F.lit(1e6), 0)
            / F.lit(1e6)
        ).alias("reliability"),
    )


def q_flagship_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    events, customer, nation = load_testdata(
        spark, sf_dir, "events", "customer", "nation"
    )
    max_day = events.agg(
        F.expr(f"MAX(CAST(ts div {NS_PER_DAY} AS INT))").alias("max_day")
    )
    # Range restriction on the RAW fact scan, before the window/join
    # work — the predicate a date-partitioned lake prunes on.
    recent = (
        events.crossJoin(F.broadcast(max_day))
        .filter(
            F.expr(
                f"CAST(ts div {NS_PER_DAY} AS INT)"
                f" >= max_day - {FLAGSHIP_RANGE_DAYS - 1}"
            )
        )
        .drop("max_day")
    )
    return merge_flagship_partials(
        flagship_day_partials(recent, customer, nation)
    )


def _flagship_incremental_sql() -> str:
    avg = "(CAST(s1 AS DOUBLE) / CAST(count AS DOUBLE))"
    var = (
        "((CAST(s2 AS DOUBLE) - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))"
        " / CAST(count AS DOUBLE)) / (CAST(count AS DOUBLE) - 1.0))"
    )
    std = f"SQRT(GREATEST({var}, 0.0))"
    z_min = f"((-60.0 - {avg}) / {std})"
    z_max = f"((300.0 - {avg}) / {std})"
    return f"""
WITH maxd AS (
  SELECT MAX(CAST(epoch_ns(ts) // {NS_PER_DAY} AS INT)) AS max_day
  FROM events
),
pings AS (
  SELECT user_id, event_id,
         CAST(epoch_ns(ts) // {NS_PER_DAY} AS INT) AS day,
         CAST((epoch_ns(ts) // {_NS_PER_SEC}) % 86400 AS INT) - {_NOON}
           AS diff
  FROM events, maxd
  WHERE event_type IN ('view', 'click')
    AND CAST(epoch_ns(ts) // {NS_PER_DAY} AS INT)
        >= max_day - {FLAGSHIP_RANGE_DAYS - 1}
),
band AS (SELECT * FROM pings WHERE diff BETWEEN -3600 AND 3600),
best AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, day
             ORDER BY ABS(diff) ASC, event_id ASC) AS rn
    FROM band
  ) WHERE rn = 1
),
partials AS (
  SELECT n_name, day,
         CAST(COUNT(diff) AS BIGINT) AS n_d,
         CAST(SUM(diff) AS BIGINT) AS s1_d,
         CAST(SUM(CAST(diff AS BIGINT) * CAST(diff AS BIGINT)) AS BIGINT)
           AS s2_d
  FROM best
  JOIN customer ON best.user_id = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY 1, 2
),
merged AS (
  SELECT n_name,
         CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days,
         CAST(SUM(n_d) AS BIGINT) AS count,
         CAST(SUM(s1_d) AS BIGINT) AS s1,
         CAST(SUM(s2_d) AS BIGINT) AS s2
  FROM partials GROUP BY 1
  HAVING SUM(n_d) > 1
)
SELECT n_name, n_days, count,
       ROUND({avg} * 1e6, 0) / 1e6 AS avg_diff_r,
       ROUND({std} * 1e6, 0) / 1e6 AS stddev_diff_r,
       ROUND(({norm_cdf_sql(z_max)} - {norm_cdf_sql(z_min)}) * 1e6, 0)
         / 1e6 AS reliability
FROM merged
"""


QUERIES = {
    "flagship_incremental": q_flagship_incremental,
}

ORACLE_SQL = {
    "flagship_incremental": _flagship_incremental_sql(),
}
