"""Nineteenth query bank: distribution distance, audience overlap, and
market concentration.

- ``wasserstein_drift`` — EXACT 1-D Wasserstein-1 (earth mover's)
  distance between the two user-parity halves of each event type's
  value distribution — the metric complement of ``ks_drift`` (KS is
  the sup of |F_a - F_b|; W1 is its integral, sensitive to WHERE mass
  moved).  Exactness: with integer-cents values and exact counts,
  |F_a(x) - F_b(x)| = |cum_a*n_b - cum_b*n_a| / (n_a*n_b), so
  W1 = Σ |cum_a*n_b - cum_b*n_a| * gap(x) summed as exact
  DECIMAL(38,0) and reported as floor(W1 * 1e6) integer micro-cents
  via exact 128-bit integer division — engine-exact end to end.  The
  step grid is each type's own distinct cents (both halves change
  only there), so the plan is one groupBy + one per-type ordered
  window — no union grid, no cross join.
- ``audience_overlap`` — pairwise audience intersection across event
  types (the ad-tech overlap matrix): per-user type SETS built in one
  user-grain aggregate, ordered pairs generated IN-ROW from each
  user's ≤|types| set (the dedup_agreement combination idiom — no
  self-join on the user table), then one tiny pair count.  Exact
  integers + Jaccard in ppm.
- ``hhi_concentration`` — Herfindahl–Hirschman supplier-revenue
  concentration per nation: exact integer cents per (nation,
  supplier), HHI = Σ share_i² reported as floor(sq·10¹²/t²) fixed
  point via exact 128-bit integer division (the antitrust convention
  rescaled to ppm ×10⁶).  Plan: lineitem⋈supplier (broadcast dim),
  supplier-grain aggregate, nation-grain aggregate — two shuffles,
  both on keys that shrink the data.

Reference scope note: the reference (smohiudd/gtfs-realtime-etl) has
no analytics surface of this kind; these are driver-mandated
LLM-pipeline / warehouse extensions (SURVEY.md §7 step 7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.plans.base import CENTS
from gtfs_realtime_etl_spark.sources.testdata import load_testdata


# ---------------------------------------------------------------------------
# wasserstein_drift
# ---------------------------------------------------------------------------


def q_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    counts = (
        events.select(
            "event_type",
            (F.col("user_id") % 2).alias("half"),
            F.expr(CENTS).alias("cents"),
        )
        .groupBy("event_type", "cents")
        .agg(
            F.sum(F.expr("CASE WHEN half = 0 THEN 1 ELSE 0 END")).alias("c0"),
            F.sum(F.expr("CASE WHEN half = 1 THEN 1 ELSE 0 END")).alias("c1"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("cents")
    stepped = counts.select(
        "event_type",
        "cents",
        F.sum("c0").over(w).alias("cum0"),
        F.sum("c1").over(w).alias("cum1"),
        (F.lead("cents").over(w) - F.col("cents")).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    per_type = (
        events.select("event_type", (F.col("user_id") % 2).alias("half"))
        .groupBy("event_type")
        .agg(
            F.sum(F.expr("CASE WHEN half = 0 THEN 1 ELSE 0 END")).alias("n0"),
            F.sum(F.expr("CASE WHEN half = 1 THEN 1 ELSE 0 END")).alias("n1"),
        )
    )
    # Every multiplication is widened to DECIMAL(38,0) BEFORE it runs:
    # cum*n is ~rows-per-type squared and times a cents gap can exceed
    # int64 at larger scale factors — Spark (non-ANSI) would wrap
    # silently while DuckDB raises.  The DuckDB oracle widens the same
    # products to HUGEINT.
    sums = (
        stepped.join(F.broadcast(per_type), "event_type")
        .groupBy("event_type", "n0", "n1")
        .agg(
            F.sum(
                F.expr(
                    "CAST(abs(CAST(cum0 AS DECIMAL(38,0))"
                    " * CAST(n1 AS DECIMAL(38,0))"
                    " - CAST(cum1 AS DECIMAL(38,0))"
                    " * CAST(n0 AS DECIMAL(38,0)))"
                    " * CAST(gap AS DECIMAL(38,0)) AS DECIMAL(38,0))"
                )
            ).alias("num")
        )
    )
    # w1_micro = floor(W1 * 1e6) in integer micro-cents — exact 128-bit
    # integer arithmetic in both engines (Spark DECIMAL(38,0) `div`,
    # DuckDB HUGEINT `//`; all values non-negative so truncation ==
    # floor), replacing the r8 round-to-6-digits double output whose class
    # the r8 driver gate hash-rejected on two sibling queries.  The 0/0
    # degenerate (an event type whose users all land in one parity
    # half) is guarded to NULL in both engines — unguarded, Spark
    # returns NULL while DuckDB returns NaN.
    return sums.select(
        "event_type",
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        F.expr(
            "CASE WHEN n0 > 0 AND n1 > 0 THEN"
            " CAST((num * 1000000) div CAST(CAST(n0 AS DECIMAL(38,0))"
            " * CAST(n1 AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS BIGINT)"
            " END"
        ).alias("w1_micro"),
    )


Q_WASSERSTEIN_DRIFT_SQL = f"""
WITH ev AS (
  SELECT event_type, user_id % 2 AS half, {CENTS} AS cents FROM events
),
counts AS (
  SELECT event_type, cents,
         CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
         CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
  FROM ev GROUP BY 1, 2
),
stepped AS (
  SELECT event_type, cents,
         SUM(c0) OVER w AS cum0, SUM(c1) OVER w AS cum1,
         LEAD(cents) OVER w - cents AS gap
  FROM counts
  WINDOW w AS (PARTITION BY event_type ORDER BY cents)
),
per_type AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
  FROM ev GROUP BY 1
)
SELECT event_type, n0, n1,
       CASE WHEN n0 > 0 AND n1 > 0 THEN
         CAST((num * 1000000)
              // (CAST(n0 AS HUGEINT) * CAST(n1 AS HUGEINT))
           AS BIGINT)
       END AS w1_micro
FROM (
  SELECT s.event_type, n0, n1,
         SUM(abs(CAST(cum0 AS HUGEINT) * CAST(n1 AS HUGEINT)
                 - CAST(cum1 AS HUGEINT) * CAST(n0 AS HUGEINT))
             * CAST(gap AS HUGEINT)) AS num
  FROM stepped s JOIN per_type p ON s.event_type = p.event_type
  WHERE gap IS NOT NULL
  GROUP BY 1, 2, 3
)
"""


# ---------------------------------------------------------------------------
# audience_overlap
# ---------------------------------------------------------------------------


def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("types")
    )
    # Ordered pairs IN-ROW from each user's <=|event types| set — the
    # dedup_agreement combination idiom: no self-join on users.
    pairs = per_user.select(
        F.explode(
            F.expr(
                "flatten(transform(types, (a, i) ->"
                " transform(slice(types, i + 2, size(types)), b ->"
                " struct(a AS type_a, b AS type_b))))"
            )
        ).alias("p")
    ).groupBy("p.type_a", "p.type_b").agg(
        F.count(F.lit(1)).alias("n_both")
    )
    sizes = (
        events.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    return (
        pairs.join(
            F.broadcast(sizes.withColumnRenamed("event_type", "type_a")),
            "type_a",
        )
        .withColumnRenamed("n_users", "n_a")
        .join(
            F.broadcast(sizes.withColumnRenamed("event_type", "type_b")),
            "type_b",
        )
        .withColumnRenamed("n_users", "n_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            F.col("n_both").cast("long").alias("n_both"),
            F.expr("n_both * 1000000L div (n_a + n_b - n_both)").alias(
                "jaccard_ppm"
            ),
        )
    )


#: The oracle is the semantic SPEC, not the plan: a plain distinct
#: self-join on user (quadratic in types-per-user, fine for an oracle;
#: the Spark side generates pairs in-row with no self-join).
Q_AUDIENCE_OVERLAP_SQL = """
WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM du a JOIN du b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
),
sizes AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
  FROM events GROUP BY 1
)
SELECT type_a, type_b, sa.n_users AS n_a, sb.n_users AS n_b, n_both,
       CAST(n_both * 1000000 // (sa.n_users + sb.n_users - n_both)
            AS BIGINT) AS jaccard_ppm
FROM pairs
JOIN sizes sa ON pairs.type_a = sa.event_type
JOIN sizes sb ON pairs.type_b = sb.event_type
"""


# ---------------------------------------------------------------------------
# hhi_concentration
# ---------------------------------------------------------------------------


def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, supplier, nation = load_testdata(
        spark, sf_dir, "lineitem", "supplier", "nation"
    )
    rev = "CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)"
    per_supp = (
        lineitem.join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_nationkey", "s_suppkey")
        .agg(F.sum(F.expr(rev)).alias("c"))
    )
    # A small scale factor concentrates a nation's whole revenue in
    # a handful of suppliers, so BIGINT c*c overflows (measured at
    # sf0.001).  Each engine squares in its own exact 128-bit integer
    # form — Spark's DECIMAL(38,0) product (capped precision, exact
    # while the value fits 38 digits) and DuckDB's HUGEINT — identical
    # integer semantics, so the hash gate still compares exact values.
    per_nation = per_supp.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0))")).alias("t"),
        F.sum(
            F.expr(
                "CAST(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))"
                " AS DECIMAL(38,0))"
            )
        ).alias("sq"),
    )
    return (
        per_nation.join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "n_name",
            "n_suppliers",
            # The r08 driver gate hash-rejected the DECIMAL(38,0) /
            # rounded-double form of these outputs (cross-engine
            # canonicalization); both are now exact int64 computed
            # identically in both engines.  revenue_cents fits BIGINT
            # while a nation's revenue stays under ~9.2e16 dollars.
            # hhi_ppm_q6 = floor(sq * 1e12 / t^2): HHI scaled to ppm
            # with 6 implied decimal digits, all arithmetic in exact
            # 128-bit integers (Spark DECIMAL(38,0) `div`, DuckDB
            # HUGEINT `//`; all values positive so truncation ==
            # floor).  Width guard: sq <= t^2, so sq*1e12 <= t^2*1e12
            # stays inside 38 digits while t < 1e13 cents (1e11
            # dollars per nation) — orders of magnitude above bench
            # scale; the quotient itself is <= 1e12 so the BIGINT cast
            # never wraps.
            F.expr("CAST(t AS BIGINT)").alias("revenue_cents"),
            F.expr(
                "CAST((CAST(sq AS DECIMAL(38,0)) * 1000000000000)"
                " div CAST(CAST(t AS DECIMAL(38,0))"
                " * CAST(t AS DECIMAL(38,0)) AS DECIMAL(38,0))"
                " AS BIGINT)"
            ).alias("hhi_ppm_q6"),
        )
    )


Q_HHI_CONCENTRATION_SQL = """
WITH per_supp AS (
  SELECT s_nationkey, s_suppkey,
         CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100
                             + 0.5) AS BIGINT)) AS BIGINT) AS c
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1, 2
),
per_nation AS (
  SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
         SUM(CAST(c AS DECIMAL(38,0))) AS t,
         SUM(CAST(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)
                  AS DECIMAL(38,0))) AS sq
  FROM per_supp GROUP BY 1
)
SELECT n_name, n_suppliers,
       CAST(t AS BIGINT) AS revenue_cents,
       CAST((CAST(sq AS HUGEINT) * 1000000000000)
            // (CAST(t AS HUGEINT) * CAST(t AS HUGEINT))
         AS BIGINT) AS hhi_ppm_q6
FROM per_nation JOIN nation ON s_nationkey = n_nationkey
"""


QUERIES = {
    "wasserstein_drift": q_wasserstein_drift,
    "audience_overlap": q_audience_overlap,
    "hhi_concentration": q_hhi_concentration,
}

ORACLE_SQL = {
    "wasserstein_drift": Q_WASSERSTEIN_DRIFT_SQL,
    "audience_overlap": Q_AUDIENCE_OVERLAP_SQL,
    "hhi_concentration": Q_HHI_CONCENTRATION_SQL,
}
