"""Thirteenth query bank: change-point detection, a single-feature
decision stump, closed-form OLS regression, Z-order multi-dimensional
layout statistics, and greedy max-coverage document selection.

- ``cusum_changepoint`` — per-event-type CUSUM change-point scan over
  the daily event-count series.  With daily counts ``c_d`` over ``D``
  observed days and total ``N``, the lifted partial sum
  ``S_d = Σ_{i≤d} (c_i·D − N)`` is INTEGER-EXACT (the ``ks_drift``
  discipline: numerators never touch a float), ``max |S_d|`` locates
  the strongest level shift, and ``cusum_micro = ⌊max|S|·1e6/(N·D)⌋``
  is the scale-free statistic.  Plan shape: one (type, day) group
  shuffle, one windowed cumulative sum, one struct-max argmax — the
  series never materializes per-event rows after the first aggregate.
  BIGINT-safe while ``N·D < 2^63``; lift the products to DECIMAL past
  ~10¹⁵ event·days per type (arithmetic unchanged).
- ``decision_stump`` — exhaustive threshold scan for the best binary
  split of ``l_quantity`` against the ``l_returnflag = 'R'`` label,
  scored by information gain in integer micro-bits (the ``feature_mi``
  quantization: every entropy term is ``floor(c·lg_micro)`` on
  engine-identical integers, so the argmax is hash-stable).  The
  lifted gain ``n·IG = nH(parent) − nH(left) − nH(right)`` with
  ``mH(S) = m·lg(m) − Σ_class f(count)`` and ``f(c) = c·lg_micro(c)``
  needs only cumulative class counts by threshold — one group-by to
  ~50 bins, two windows; the corpus-sized stage is a single scan.
- ``ols_regression`` — closed-form two-feature ordinary least squares
  (``l_extendedprice ~ l_quantity + l_discount``) from DECIMAL-exact
  sufficient statistics.  Inputs are cast to fixed-point at their
  true scales (quantity and 2-decimal money/discount are exactly
  representable, so the double→decimal round-trip is bit-identical in
  both engines), every moment sum is an exact decimal, and the 3×3
  normal equations are solved by Cramer's rule on doubles cast from
  those exact sums with IDENTICAL expression order in Spark and the
  oracle (same parse tree → same IEEE-754 result).  One scan, one
  1-row aggregate — the classic "fit a linear probe on 100 TB in one
  pass" shape.
- ``zorder_layout`` — Morton (Z-order) interleaving of the
  (price-bucket, date-bucket) pair into a 16-bit key, bucketed into
  64 contiguous key ranges (candidate file boundaries), with per-file
  min/max spans of BOTH dimensions, side-by-side with the same stats
  for the lexicographic (price-major) layout.  This is the data-layout
  decision a 100 TB table bakes in at write time: Z-order bounds the
  min/max span of every dimension per file (zone-map pruning works for
  every predicate), lexicographic bounds only the leading one.  The
  bit interleave is pure integer arithmetic (shift/mask/add) — no UDF,
  identical in the oracle.
- ``greedy_coverage`` — greedy maximum-coverage document selection:
  ``GC_ROUNDS`` rounds, each picking the document whose distinct
  character 3-grams cover the most not-yet-covered vocabulary (ties →
  smallest doc_id), the submodular-maximization core of
  coverage-driven training-data selection.  Spark side is an iterative driver loop in
  the ``kmeans_centroids`` style: the (doc, term) incidence table is
  built ONCE and persisted; each round is one broadcast anti-join
  (covered terms stay IN-ENGINE, derived from the selected doc ids —
  never collected) plus a 1-row argmax collect.  The oracle is the
  matching ``GC_ROUNDS``-deep unrolled-CTE chain (the ``bpe_train``
  pattern).  Output rows are assembled as JVM literals — no
  Python-RDD scan (NOTES_r7 performance lesson).

Reference scope note: the reference (smohiudd/gtfs-realtime-etl) has
no analytics surface of this kind; these are driver-mandated
LLM-pipeline / warehouse extensions (SURVEY.md §7 step 7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.functions.stats import (
    portable_int_log2_sql,
    portable_int_log2_staged,
)
from gtfs_realtime_etl_spark.functions.text import char_shingles
from gtfs_realtime_etl_spark.plans.analytics7 import _lg_micro_sql
from gtfs_realtime_etl_spark.plans.base import NS_PER_DAY
from gtfs_realtime_etl_spark.sources.testdata import load_testdata


# ---------------------------------------------------------------------------
# cusum_changepoint
# ---------------------------------------------------------------------------


def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact CUSUM change-point per event type (module doc)."""
    (events,) = load_testdata(spark, sf_dir, "events")
    daily = (
        events.select(
            "event_type",
            # Integer `div`, never float division: ts ~1.7e18 ns loses
            # ulp-level precision as a double, which could flip a row
            # sitting on a day boundary.
            F.expr(f"ts div {NS_PER_DAY}L").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wtot = Window.partitionBy("event_type")
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = daily.select(
        "event_type",
        "day",
        F.count(F.lit(1)).over(wtot).alias("n_days"),
        F.sum("c").over(wtot).alias("n_events"),
        F.sum("c").over(wcum).alias("cum"),
        F.sum(F.lit(1)).over(wcum).alias("rk"),
    ).select(
        "event_type",
        "day",
        "n_days",
        "n_events",
        # S_d = cum·D − rk·N: the mean-lifted CUSUM partial sum.
        (F.col("cum") * F.col("n_days") - F.col("rk") * F.col("n_events")).alias("s"),
    )
    best = F.max(
        F.struct(F.abs(F.col("s")).alias("s_abs"), (-F.col("day")).alias("nd"))
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.max("n_days").alias("n_days"),
            F.max("n_events").alias("n_events"),
            best.alias("b"),
        )
        .select(
            "event_type",
            "n_days",
            "n_events",
            F.col("b.s_abs").alias("s_abs_max"),
            (-F.col("b.nd")).alias("cp_day"),
            F.expr("b.s_abs * 1000000L div (n_events * n_days)").alias(
                "cusum_micro"
            ),
        )
    )


Q_CUSUM_CHANGEPOINT_SQL = f"""
WITH daily AS (
  SELECT event_type, epoch_ns(ts) // {NS_PER_DAY} AS day,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT event_type, day,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days,
         CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n_events,
         CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY day
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS rk
  FROM daily
),
s AS (
  SELECT event_type, day, n_days, n_events,
         cum * n_days - rk * n_events AS sv
  FROM scored
),
best AS (
  SELECT event_type, day, n_days, n_events, ABS(sv) AS s_abs,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ABS(sv) DESC, day ASC) AS rn
  FROM s
)
SELECT event_type, n_days, n_events,
       s_abs AS s_abs_max, day AS cp_day,
       s_abs * 1000000 // (n_events * n_days) AS cusum_micro
FROM best WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# decision_stump
# ---------------------------------------------------------------------------


def _f_term_sql(c: str, lg: str) -> str:
    """f(c) = c·lg_micro(c) with f(0) = 0 — the lifted entropy term."""
    return f"CASE WHEN ({c}) > 0 THEN ({c}) * {lg} ELSE 0 END"


def q_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best information-gain split of quantity vs returnflag (module
    doc).  The nine log2 instances ride the staged SQL-parsed form
    (see the body comment) — the former inline Horner chains pushed
    the projection past janino's method limit and dominated plan
    construction."""
    (lineitem,) = load_testdata(spark, sf_dir, "lineitem")
    bins = (
        lineitem.select(
            F.floor("l_quantity").cast("long").alias("thr"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("is_pos"),
        )
        .groupBy("thr")
        .agg(
            F.sum("is_pos").alias("pos_b"),
            F.sum(F.lit(1) - F.col("is_pos")).alias("neg_b"),
        )
    )
    wtot = Window.partitionBy()
    wcum = Window.orderBy("thr").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = bins.select(
        "thr",
        F.sum("pos_b").over(wcum).alias("pos_l"),
        F.sum("neg_b").over(wcum).alias("neg_l"),
        F.sum("pos_b").over(wtot).alias("pos_t"),
        F.sum("neg_b").over(wtot).alias("neg_t"),
    ).select(
        "thr",
        "pos_l",
        "neg_l",
        (F.col("pos_t") - F.col("pos_l")).alias("pos_r"),
        (F.col("neg_t") - F.col("neg_l")).alias("neg_r"),
        "pos_t",
        "neg_t",
    )
    # Nine portable-log2 instances, SQL-PARSED through the staged fast
    # path instead of Column-built (round-12, the feature_mi lesson):
    # the Column Horner loop issued ~1000 py4j commands per build and
    # pushed the inlined projection past janino's method limit; the
    # staged form is a handful of selectExpr parses with the IDENTICAL
    # arithmetic (bit-parity pinned in tests/test_functions.py), and
    # the named intermediates keep every chain compiled.  The n_r > 0
    # filter moves BEFORE the log2 stage (the old form only evaluated
    # the log2s post-filter; values on surviving rows are unchanged).
    c2 = c.filter((F.col("pos_r") + F.col("neg_r")) > 0).selectExpr(
        "*",
        "pos_t + neg_t AS n_t",
        "pos_l + neg_l AS n_l",
        "pos_r + neg_r AS n_r",
    )
    lg = portable_int_log2_staged(
        c2,
        {
            "lg_nt": "n_t",
            "lg_nl": "n_l",
            "lg_nr": "n_r",
            "lg_pt": "greatest(pos_t, 1)",
            "lg_qt": "greatest(neg_t, 1)",
            "lg_pl": "greatest(pos_l, 1)",
            "lg_ql": "greatest(neg_l, 1)",
            "lg_pr": "greatest(pos_r, 1)",
            "lg_qr": "greatest(neg_r, 1)",
        },
    )

    def _m(x: str) -> str:
        # _lg_micro_sql over a staged lg column, D-suffixed literals
        return f"CAST(floor(({x}) * 1000000.0D + 0.5D) AS BIGINT)"

    nh_t = (
        f"n_t * {_m('lg_nt')} - {_f_term_sql('pos_t', _m('lg_pt'))}"
        f" - {_f_term_sql('neg_t', _m('lg_qt'))}"
    )
    nh_l = (
        f"n_l * {_m('lg_nl')} - {_f_term_sql('pos_l', _m('lg_pl'))}"
        f" - {_f_term_sql('neg_l', _m('lg_ql'))}"
    )
    nh_r = (
        f"n_r * {_m('lg_nr')} - {_f_term_sql('pos_r', _m('lg_pr'))}"
        f" - {_f_term_sql('neg_r', _m('lg_qr'))}"
    )
    scored = lg.selectExpr(
        "thr",
        "n_l AS n_left",
        "n_r AS n_right",
        "pos_l",
        "pos_r",
        f"({nh_t}) - ({nh_l}) - ({nh_r}) AS ig_scaled",
    )
    wmax = Window.partitionBy()
    return scored.withColumn(
        "is_best", F.col("ig_scaled") == F.max("ig_scaled").over(wmax)
    )


Q_DECISION_STUMP_SQL = f"""
WITH bins AS (
  SELECT CAST(FLOOR(l_quantity) AS BIGINT) AS thr,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
           AS pos_b,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS BIGINT)
           AS neg_b
  FROM lineitem GROUP BY 1
),
c AS (
  SELECT thr,
         SUM(pos_b) OVER (ORDER BY thr ROWS UNBOUNDED PRECEDING) AS pos_l,
         SUM(neg_b) OVER (ORDER BY thr ROWS UNBOUNDED PRECEDING) AS neg_l,
         SUM(pos_b) OVER () AS pos_t,
         SUM(neg_b) OVER () AS neg_t
  FROM bins
),
sides AS (
  SELECT thr, pos_l, neg_l, pos_t - pos_l AS pos_r, neg_t - neg_l AS neg_r,
         pos_t, neg_t,
         pos_l + neg_l AS n_l, pos_t + neg_t - pos_l - neg_l AS n_r,
         pos_t + neg_t AS n_t
  FROM c
),
lg AS (
  SELECT *,
         {portable_int_log2_sql("n_t", "lnt")},
         {portable_int_log2_sql("GREATEST(n_l, 1)", "lnl")},
         {portable_int_log2_sql("GREATEST(n_r, 1)", "lnr")},
         {portable_int_log2_sql("GREATEST(pos_t, 1)", "lpt")},
         {portable_int_log2_sql("GREATEST(neg_t, 1)", "lqt")},
         {portable_int_log2_sql("GREATEST(pos_l, 1)", "lpl")},
         {portable_int_log2_sql("GREATEST(neg_l, 1)", "lql")},
         {portable_int_log2_sql("GREATEST(pos_r, 1)", "lpr")},
         {portable_int_log2_sql("GREATEST(neg_r, 1)", "lqr")}
  FROM sides WHERE n_r > 0
),
scored AS (
  SELECT thr,
         CAST(n_l AS BIGINT) AS n_left, CAST(n_r AS BIGINT) AS n_right,
         CAST(pos_l AS BIGINT) AS pos_l, CAST(pos_r AS BIGINT) AS pos_r,
         CAST(
           (n_t * {_lg_micro_sql("lnt_lg")}
              - {_f_term_sql("pos_t", _lg_micro_sql("lpt_lg"))}
              - {_f_term_sql("neg_t", _lg_micro_sql("lqt_lg"))})
           - (n_l * {_lg_micro_sql("lnl_lg")}
              - {_f_term_sql("pos_l", _lg_micro_sql("lpl_lg"))}
              - {_f_term_sql("neg_l", _lg_micro_sql("lql_lg"))})
           - (n_r * {_lg_micro_sql("lnr_lg")}
              - {_f_term_sql("pos_r", _lg_micro_sql("lpr_lg"))}
              - {_f_term_sql("neg_r", _lg_micro_sql("lqr_lg"))})
         AS BIGINT) AS ig_scaled
  FROM lg
)
SELECT thr, n_left, n_right, pos_l, pos_r, ig_scaled,
       ig_scaled = MAX(ig_scaled) OVER () AS is_best
FROM scored
"""


# ---------------------------------------------------------------------------
# ols_regression
# ---------------------------------------------------------------------------

#: Fixed-point input scales — each is the value's TRUE scale, so the
#: double→decimal round-trip is exact and engine-identical: quantity is
#: integral (≤ 50), money has 2 decimals (≤ ~110 000), discount has
#: 2 decimals (≤ 0.10).
_DEC_QTY = "decimal(8,2)"
_DEC_MONEY = "decimal(12,2)"
_DEC_DISC = "decimal(4,2)"
#: Moment-sum width: every pairwise product above fits (21,4); +17 for
#: the count headroom keeps Spark's sum inside precision 38 with NO
#: scale erosion (NOTES_r7 decimal-fold lesson).
_DEC_SUM = "decimal(38,4)"


def q_ols_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS l_extendedprice ~ l_quantity + l_discount
    (module doc).  Sufficient statistics are decimal-exact; the Cramer
    solve runs on doubles cast from those sums with the same
    expression order as the oracle."""
    (lineitem,) = load_testdata(spark, sf_dir, "lineitem")
    x1 = F.col("l_quantity").cast(_DEC_QTY)
    x2 = F.col("l_discount").cast(_DEC_DISC)
    y = F.col("l_extendedprice").cast(_DEC_MONEY)
    sums = lineitem.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x1.cast(_DEC_SUM)).alias("s1d"),
        F.sum(x2.cast(_DEC_SUM)).alias("s2d"),
        F.sum(y.cast(_DEC_SUM)).alias("syd"),
        F.sum((x1 * x1).cast(_DEC_SUM)).alias("s11d"),
        F.sum((x2 * x2).cast(_DEC_SUM)).alias("s22d"),
        F.sum((x1 * x2).cast(_DEC_SUM)).alias("s12d"),
        F.sum((x1 * y).cast(_DEC_SUM)).alias("s1yd"),
        F.sum((x2 * y).cast(_DEC_SUM)).alias("s2yd"),
    )
    d = sums.select(
        "n",
        F.col("s1d").cast("double").alias("s1"),
        F.col("s2d").cast("double").alias("s2"),
        F.col("syd").cast("double").alias("sy"),
        F.col("s11d").cast("double").alias("s11"),
        F.col("s22d").cast("double").alias("s22"),
        F.col("s12d").cast("double").alias("s12"),
        F.col("s1yd").cast("double").alias("s1y"),
        F.col("s2yd").cast("double").alias("s2y"),
    )
    # Cramer's rule on A = [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]],
    # b = [sy,s1y,s2y] — term order mirrors the SQL text exactly.
    n = F.col("n").cast("double")
    s1, s2, sy = F.col("s1"), F.col("s2"), F.col("sy")
    s11, s22, s12 = F.col("s11"), F.col("s22"), F.col("s12")
    s1y, s2y = F.col("s1y"), F.col("s2y")
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    det0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    )
    det1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    det2 = (
        n * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    )
    return d.select(
        "n",
        "s1",
        "s2",
        "sy",
        "s11",
        "s22",
        "s12",
        "s1y",
        "s2y",
        (F.round((det0 / det) * F.lit(1e6), 0) / F.lit(1e6)).alias("b0"),
        (F.round((det1 / det) * F.lit(1e6), 0) / F.lit(1e6)).alias("b1"),
        (F.round((det2 / det) * F.lit(1e6), 0) / F.lit(1e6)).alias("b2"),
    )


Q_OLS_REGRESSION_SQL = f"""
WITH sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(CAST(l_quantity AS {_DEC_QTY}) AS {_DEC_SUM})) AS s1d,
         SUM(CAST(CAST(l_discount AS {_DEC_DISC}) AS {_DEC_SUM})) AS s2d,
         SUM(CAST(CAST(l_extendedprice AS {_DEC_MONEY}) AS {_DEC_SUM})) AS syd,
         SUM(CAST(CAST(l_quantity AS {_DEC_QTY})
                  * CAST(l_quantity AS {_DEC_QTY}) AS {_DEC_SUM})) AS s11d,
         SUM(CAST(CAST(l_discount AS {_DEC_DISC})
                  * CAST(l_discount AS {_DEC_DISC}) AS {_DEC_SUM})) AS s22d,
         SUM(CAST(CAST(l_quantity AS {_DEC_QTY})
                  * CAST(l_discount AS {_DEC_DISC}) AS {_DEC_SUM})) AS s12d,
         SUM(CAST(CAST(l_quantity AS {_DEC_QTY})
                  * CAST(l_extendedprice AS {_DEC_MONEY}) AS {_DEC_SUM})) AS s1yd,
         SUM(CAST(CAST(l_discount AS {_DEC_DISC})
                  * CAST(l_extendedprice AS {_DEC_MONEY}) AS {_DEC_SUM})) AS s2yd
  FROM lineitem
),
d AS (
  SELECT n,
         CAST(s1d AS DOUBLE) AS s1, CAST(s2d AS DOUBLE) AS s2,
         CAST(syd AS DOUBLE) AS sy, CAST(s11d AS DOUBLE) AS s11,
         CAST(s22d AS DOUBLE) AS s22, CAST(s12d AS DOUBLE) AS s12,
         CAST(s1yd AS DOUBLE) AS s1y, CAST(s2yd AS DOUBLE) AS s2y
  FROM sums
)
SELECT n, s1, s2, sy, s11, s22, s12, s1y, s2y,
       ROUND(((sy * (s11 * s22 - s12 * s12)
              - s1 * (s1y * s22 - s12 * s2y)
              + s2 * (s1y * s12 - s11 * s2y))
             / (CAST(n AS DOUBLE) * (s11 * s22 - s12 * s12)
                - s1 * (s1 * s22 - s12 * s2)
                + s2 * (s1 * s12 - s11 * s2))) * 1e6, 0) / 1e6 AS b0,
       ROUND(((CAST(n AS DOUBLE) * (s1y * s22 - s12 * s2y)
              - sy * (s1 * s22 - s12 * s2)
              + s2 * (s1 * s2y - s1y * s2))
             / (CAST(n AS DOUBLE) * (s11 * s22 - s12 * s12)
                - s1 * (s1 * s22 - s12 * s2)
                + s2 * (s1 * s12 - s11 * s2))) * 1e6, 0) / 1e6 AS b1,
       ROUND(((CAST(n AS DOUBLE) * (s11 * s2y - s1y * s12)
              - s1 * (s1 * s2y - s1y * s2)
              + sy * (s1 * s12 - s11 * s2))
             / (CAST(n AS DOUBLE) * (s11 * s22 - s12 * s12)
                - s1 * (s1 * s22 - s12 * s2)
                + s2 * (s1 * s12 - s11 * s2))) * 1e6, 0) / 1e6 AS b2
FROM d
"""


# ---------------------------------------------------------------------------
# zorder_layout
# ---------------------------------------------------------------------------

#: 8-bit dimension buckets: price in 2 000-unit steps (≤ 500 k → 250
#: codes), days-since-1995-01-01 in 16-day steps (~2 400 days → 150
#: codes); both clamped to [0, 255].
Z_PRICE_STEP = 2_000
Z_DAY_STEP = 16
Z_ORIGIN = "1995-01-01"
Z_BITS = 8
#: 64 buckets over the 16-bit key — the candidate file boundaries.
Z_BUCKET_DIV = 1_024


def _interleave(xb, yb):
    """Morton interleave of two 8-bit codes — pure shift/mask/add."""
    z = F.lit(0).cast("long")
    for i in range(Z_BITS):
        z = z + (
            F.shiftright(xb, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i))
        )
        z = z + (
            F.shiftright(yb, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i + 1))
        )
    return z


def _interleave_sql(xb: str, yb: str) -> str:
    terms = []
    for i in range(Z_BITS):
        terms.append(f"((({xb}) >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"((({yb}) >> {i}) & 1) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order vs lexicographic layout zone-map statistics (module
    doc).  One scan computes both codes; each layout is one small
    group-by over its bucket key."""
    (orders,) = load_testdata(spark, sf_dir, "orders")
    xb = F.least(
        F.floor(F.col("o_totalprice") / Z_PRICE_STEP).cast("long"),
        F.lit(255).cast("long"),
    )
    yb = F.least(
        F.greatest(
            F.floor(
                F.datediff(F.col("o_orderdate"), F.lit(Z_ORIGIN)) / Z_DAY_STEP
            ).cast("long"),
            F.lit(0).cast("long"),
        ),
        F.lit(255).cast("long"),
    )
    coded = orders.select(xb.alias("xb"), yb.alias("yb")).select(
        "xb",
        "yb",
        (_interleave(F.col("xb"), F.col("yb")) / F.lit(Z_BUCKET_DIV))
        .cast("long")
        .alias("z_bucket"),
        ((F.col("xb") * 256 + F.col("yb")) / F.lit(Z_BUCKET_DIV))
        .cast("long")
        .alias("lex_bucket"),
    )

    def stats(df: DataFrame, key: str, layout: str) -> DataFrame:
        return df.groupBy(F.col(key).alias("bucket")).agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.max("xb") - F.min("xb")).alias("x_span"),
            (F.max("yb") - F.min("yb")).alias("y_span"),
        ).select(F.lit(layout).alias("layout"), "*")

    return stats(coded, "z_bucket", "zorder").unionAll(
        stats(coded, "lex_bucket", "lex")
    )


Q_ZORDER_LAYOUT_SQL = f"""
WITH coded0 AS (
  SELECT LEAST(CAST(FLOOR(o_totalprice / {Z_PRICE_STEP}) AS BIGINT), 255) AS xb,
         LEAST(GREATEST(CAST(FLOOR(
             date_diff('day', DATE '{Z_ORIGIN}', CAST(o_orderdate AS DATE))
             / {Z_DAY_STEP}) AS BIGINT), 0), 255) AS yb
  FROM orders
),
coded AS (
  SELECT xb, yb,
         CAST(FLOOR(({_interleave_sql("xb", "yb")}) / {Z_BUCKET_DIV}) AS BIGINT)
           AS z_bucket,
         CAST(FLOOR((xb * 256 + yb) / {Z_BUCKET_DIV}) AS BIGINT) AS lex_bucket
  FROM coded0
)
SELECT 'zorder' AS layout, z_bucket AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MAX(xb) - MIN(xb) AS x_span, MAX(yb) - MIN(yb) AS y_span
FROM coded GROUP BY z_bucket
UNION ALL
SELECT 'lex' AS layout, lex_bucket AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MAX(xb) - MIN(xb) AS x_span, MAX(yb) - MIN(yb) AS y_span
FROM coded GROUP BY lex_bucket
"""


# ---------------------------------------------------------------------------
# greedy_coverage
# ---------------------------------------------------------------------------

GC_ROUNDS = 5
#: Coverage universe = distinct character 3-grams of the folded text.
#: Whole-word tokens are degenerate on the synthetic corpus (31-word
#: pool — one doc covers everything in round 1); trigrams give a
#: ~400-element universe no single document covers.
GC_K = 3


def q_greedy_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy max-coverage document selection (module doc).

    Round-7 verdict fix, taken to its logical end: the covered-term
    set is broadcast-class BY CONTRACT (≤ GC_ROUNDS docs' distinct
    k-grams), so it lives on the DRIVER as a plain set and rides each
    round's plan as a literal array.  Per round the engine does ONE
    narrow pass over the persisted per-doc terms table —
    ``gain(doc) = size(terms) - size(array_intersect(terms,
    covered_literal))`` — plus a TakeOrdered argmax (per-partition
    top-1, driver merge; no shuffle, no join, no explode, no
    checkpoint chain).  The old shape re-aggregated the exploded
    (doc, term) world behind an anti-join every round: 28 s bench /
    75 s cold at sf0.1.  Collects per round: the 1-row argmax and the
    picked doc's term array (the covered-set update)."""
    (documents,) = load_testdata(spark, sf_dir, "documents")
    # Per-doc dedup happens ROW-SIDE (array_distinct, no explode): the
    # persisted table is doc-grain — one row per doc with its distinct
    # k-gram array — a pure narrow map over the scan, never shuffled.
    docterms = documents.select(
        "doc_id",
        F.array_distinct(char_shingles(F.col("text"), GC_K)).alias("terms"),
    ).persist()
    # Eager materialization: every round reuses the persisted rows; a
    # lazy persist would bill the whole shingle pass to round 1's
    # argmax (the 75 s cold-start round 7 measured).
    docterms.count()
    try:
        selected: list[tuple[int, int, int]] = []  # (doc_id, gain, covered)
        covered_total = 0
        covered: set = set()
        for _ in range(GC_ROUNDS):
            sel_ids = [d for d, _, _ in selected]
            base = (
                docterms.filter(~F.col("doc_id").isin(sel_ids))
                if sel_ids
                else docterms
            )
            if covered:
                cov_lit = F.array(*[F.lit(t) for t in sorted(covered)])
                gain = F.size("terms") - F.size(
                    F.array_intersect("terms", cov_lit)
                )
            else:
                gain = F.size("terms")
            best = (
                base.select("doc_id", gain.cast("long").alias("gain"))
                .orderBy(F.desc("gain"), F.asc("doc_id"))
                .limit(1)
                .collect()
            )
            # A zero gain means every remaining doc is fully covered —
            # the legacy full re-aggregation saw no remaining rows and
            # stopped; preserve that contract exactly.
            if not best or best[0]["gain"] <= 0:
                break
            d, g = best[0]["doc_id"], int(best[0]["gain"])
            covered_total += g
            selected.append((d, g, covered_total))
            covered.update(
                docterms.filter(F.col("doc_id") == d).head()["terms"]
            )
        rows = F.array(
            *[
                F.struct(
                    F.lit(r + 1).cast("int").alias("round"),
                    F.lit(doc).cast("long").alias("doc_id"),
                    F.lit(gain).cast("long").alias("gain"),
                    F.lit(cov).cast("long").alias("covered_total"),
                )
                for r, (doc, gain, cov) in enumerate(selected)
            ]
        )
        return (
            spark.range(1)
            .select(F.explode(rows).alias("s"))
            .select("s.round", "s.doc_id", "s.gain", "s.covered_total")
        )
    finally:
        docterms.unpersist()


def _greedy_coverage_sql() -> str:
    """GC_ROUNDS-deep unrolled greedy selection (bpe_train pattern)."""
    shingles = (
        f"list_transform(range(1, GREATEST(length(text) - {GC_K - 1}, 1) + 1), "
        f"i -> substr(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', "
        f"'abcdefghijklmnopqrstuvwxyz'), i, {GC_K}))"
    )
    parts = [
        "WITH toks AS (\n"
        f"  SELECT DISTINCT doc_id, term FROM (\n"
        f"    SELECT doc_id, unnest({shingles}) AS term FROM documents)\n"
        ")"
    ]
    for r in range(1, GC_ROUNDS + 1):
        prev_sel = " UNION ALL ".join(
            f"SELECT doc_id FROM s{i}" for i in range(1, r)
        )
        not_sel = (
            f"AND t.doc_id NOT IN ({prev_sel})" if prev_sel else ""
        )
        if r == 1:
            gain = (
                f"g{r} AS (\n"
                f"  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS gain\n"
                f"  FROM toks t GROUP BY t.doc_id\n)"
            )
        else:
            gain = (
                f"g{r} AS (\n"
                f"  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS gain\n"
                f"  FROM toks t LEFT JOIN c{r - 1} c ON t.term = c.term\n"
                f"  WHERE c.term IS NULL {not_sel}\n"
                f"  GROUP BY t.doc_id\n)"
            )
        parts.append(gain)
        parts.append(
            f"s{r} AS (SELECT doc_id, gain FROM g{r}\n"
            f"  ORDER BY gain DESC, doc_id ASC LIMIT 1)"
        )
        if r == 1:
            parts.append(
                f"c{r} AS (SELECT DISTINCT term FROM toks\n"
                f"  WHERE doc_id IN (SELECT doc_id FROM s{r}))"
            )
        else:
            parts.append(
                f"c{r} AS (SELECT term FROM c{r - 1} UNION\n"
                f"  SELECT term FROM toks WHERE doc_id IN (SELECT doc_id FROM s{r}))"
            )
    selects = [
        f"SELECT {r} AS round, doc_id, gain,\n"
        f"  (SELECT CAST(COUNT(*) AS BIGINT) FROM c{r}) AS covered_total\n"
        f"FROM s{r}"
        for r in range(1, GC_ROUNDS + 1)
    ]
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


Q_GREEDY_COVERAGE_SQL = _greedy_coverage_sql()


QUERIES = {
    "cusum_changepoint": q_cusum_changepoint,
    "decision_stump": q_decision_stump,
    "ols_regression": q_ols_regression,
    "zorder_layout": q_zorder_layout,
    "greedy_coverage": q_greedy_coverage,
}

ORACLE_SQL = {
    "cusum_changepoint": Q_CUSUM_CHANGEPOINT_SQL,
    "decision_stump": Q_DECISION_STUMP_SQL,
    "ols_regression": Q_OLS_REGRESSION_SQL,
    "zorder_layout": Q_ZORDER_LAYOUT_SQL,
    "greedy_coverage": Q_GREEDY_COVERAGE_SQL,
}
