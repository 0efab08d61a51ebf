"""Twentieth query bank: the Poisson bootstrap.

- ``bootstrap_ci`` — distributed confidence intervals for the mean
  value per event type via the POISSON BOOTSTRAP (Chamandy et al.,
  "Estimating Uncertainty for Massive Data Streams", Google 2012; the
  resampling scheme used at terabyte scale because it needs no global
  row count and parallelizes embarrassingly): each row enters resample
  b with weight ~ Poisson(1), approximated here by its exact quantile
  function on a DETERMINISTIC hash-uniform — u = h40(event_id|b)/2^40
  (the portable md5-prefix hash, engine-exact), w = Σ_k [u >= c_k]
  with the Poisson(1) cumulative thresholds as shared literals.  The
  B resample means are exact-integer ratios (Σ w·cents / Σ w, one
  double division each); the CI is the [2nd smallest, 2nd largest]
  order statistic of the B=32 means (≈94 % coverage), taken by sorting
  the ≤B-element per-type array IN-ROW — no window, no extra shuffle.

  Plan: one scan exploded ×B (narrow), ONE shuffle to the (event_type,
  resample) grain — |types|·B groups — then a |types|-row aggregate.
  Everything after the first aggregate is broadcast-class.  At 100 TB
  this is the textbook way to put error bars on a metric without a
  second pass or a global sort; determinism makes the "random"
  resamples replayable and oracle-checkable.

Reference scope note: the reference (smohiudd/gtfs-realtime-etl) has
no analytics surface of this kind; this is a driver-mandated
LLM-pipeline / warehouse extension (SURVEY.md §7 step 7).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.plans.analytics12 import _h40, _sql_h40
from gtfs_realtime_etl_spark.plans.base import CENTS
from gtfs_realtime_etl_spark.sources.testdata import load_testdata, saturate_scan


BOOT_B = 32  # resamples
#: Poisson(1) cumulative thresholds P(X <= k), k = 0..4 — weights cap
#: at 5 (P(X > 5) ≈ 6e-4 rounds into the cap; identical in both
#: engines because the literals are shared Python-computed doubles).
BOOT_THRESHOLDS = [
    sum(math.exp(-1.0) / math.factorial(j) for j in range(k + 1))
    for k in range(5)
]
_H40_SPACE = float(1 << 40)


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    # The ×BOOT_B explode + per-row hash below is the heavy map-side
    # class that justifies widening the narrow local scan (round-12
    # interleaved A/B: 3.06 -> 1.37 s; no-op on multi-file inputs).
    ev = saturate_scan(events).select(
        "event_type", "event_id", F.expr(CENTS).alias("cents")
    )
    exact = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("sc")
    )
    u = (
        _h40(
            F.concat(
                F.col("event_id").cast("string"),
                F.lit("|"),
                F.col("b").cast("string"),
            )
        ).cast("double")
        / F.lit(_H40_SPACE)
    )
    w = sum(
        (u >= F.lit(c)).cast("int") for c in BOOT_THRESHOLDS
    )  # Poisson(1) quantile, capped at 5
    exploded = ev.select(
        "event_type",
        "cents",
        F.explode(F.array(*[F.lit(i) for i in range(BOOT_B)])).alias("b"),
        "event_id",
    ).select("event_type", "cents", "b", w.alias("w"))
    per_resample = (
        exploded.groupBy("event_type", "b")
        .agg(
            F.sum("w").alias("sw"),
            F.sum(F.expr("CAST(w AS BIGINT) * cents")).alias("swc"),
        )
        .filter(F.col("sw") > 0)
        .select(
            "event_type",
            F.expr("CAST(swc AS DOUBLE) / CAST(sw AS DOUBLE)").alias("mb"),
        )
    )
    boot = per_resample.groupBy("event_type").agg(
        F.array_sort(F.collect_list("mb")).alias("ms")
    )
    return (
        exact.join(F.broadcast(boot), "event_type")
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.expr(
                "ROUND((CAST(sc AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6, 0) / 1e6"
            ).alias("mean_cents"),
            F.expr("ROUND((element_at(ms, 2)) * 1e6, 0) / 1e6").alias("ci_lo_cents"),
            F.expr("ROUND((element_at(ms, size(ms) - 1)) * 1e6, 0) / 1e6").alias(
                "ci_hi_cents"
            ),
            F.size("ms").cast("int").alias("n_resamples"),
        )
    )


def _bootstrap_sql() -> str:
    h = _sql_h40("concat(CAST(event_id AS VARCHAR), '|', CAST(b AS VARCHAR))")
    wsum = " + ".join(
        f"CAST(({h} / {_H40_SPACE!r}) >= {c!r} AS INT)"
        for c in BOOT_THRESHOLDS
    )
    return f"""
WITH ev AS (
  SELECT event_type, event_id, {CENTS} AS cents FROM events
),
exact AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS sc
  FROM ev GROUP BY 1
),
exploded AS (
  SELECT event_type, cents, b, {wsum} AS w
  FROM ev, (SELECT unnest(range(0, {BOOT_B})) AS b)
),
per_resample AS (
  SELECT event_type,
         CAST(SUM(CAST(w AS BIGINT) * cents) AS DOUBLE)
           / CAST(SUM(w) AS DOUBLE) AS mb
  FROM exploded GROUP BY event_type, b
  HAVING SUM(w) > 0
),
boot AS (
  SELECT event_type, list_sort(list(mb)) AS ms
  FROM per_resample GROUP BY 1
)
SELECT e.event_type, n,
       ROUND((CAST(sc AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6, 0) / 1e6 AS mean_cents,
       ROUND((ms[2]) * 1e6, 0) / 1e6 AS ci_lo_cents,
       ROUND((ms[len(ms) - 1]) * 1e6, 0) / 1e6 AS ci_hi_cents,
       CAST(len(ms) AS INTEGER) AS n_resamples
FROM exact e JOIN boot USING (event_type)
"""


QUERIES = {
    "bootstrap_ci": q_bootstrap_ci,
}

ORACLE_SQL = {
    "bootstrap_ci": _bootstrap_sql(),
}
