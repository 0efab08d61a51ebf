"""Twenty-second query bank: inequality, information-theoretic drift,
robust rank trend, and inter-arrival dynamics.

- ``lorenz_gini`` — EXACT Gini coefficient of per-customer order
  revenue per market segment, computed on the (segment, cents)
  HISTOGRAM instead of a per-row rank: for a run of ``c`` equal
  values ``v`` ending at cumulative count ``cum`` within the
  ascending sort, the classical rank form
  ``G = sum_i (2i - n - 1) x_(i) / (n * sum x)`` collapses to the
  per-cell integer ``v * (2*c*cum - c*(c-1))`` minus a separable
  ``(n+1) * total`` term, so the whole numerator is one exact
  128-bit aggregate over distinct-cents grain — the same reduction
  every exact-order-statistic query in this repo rides (no global
  sort, no rank window over raw rows).  Output in integer ppm via
  truncating 128-bit division (both engines truncate toward zero;
  numerator provably >= 0).
- ``js_divergence`` — generalized Jensen–Shannon divergence (the
  count-weighted mixture form: JS_l = H(M) - l*H(P) - (1-l)*H(Q),
  l = n0/N, M = pooled counts / N) between the event-type
  distributions of the corpus's first and second temporal halves
  (midpoint cut, the ``did_estimator`` scalar idiom).  In count form
  the per-type contribution is
  ``(c0+c1)*lg(c0+c1) - c0*lg(c0) - c1*lg(c1)`` and the total is the
  SAME form applied to (n0, n1) minus the per-type sum — every log is
  a log2 of a positive INTEGER, so the whole query rides
  ``portable_int_log2_staged`` (bit-identical across engines, the
  ``feature_mi`` idiom) in integer micro fixed point.  Zero counts
  need no special case: ``c * lg(max(c,1))`` vanishes at c = 0.
- ``kendall_trend`` — Kendall concordance trend (tau-a with explicit
  tie classes) of event value against time per event type, over a
  BOUNDED deterministic sample (Knuth-style multiplicative hash on
  event_id picks ``KENDALL_K`` rows per type, so the quadratic pair
  stage is O(K^2) per key regardless of data size).  Pairs are
  generated IN-ROW from the (ts, event_id)-sorted sample array with
  higher-order functions (the ``apriori_triples`` expansion idiom)
  and classified exactly: ts-tie, value-tie, concordant, discordant.
  tau in signed integer ppm via truncating division (Spark ``div``
  and DuckDB ``//`` both truncate toward zero — pinned by
  ``tests/test_analytics18.py::test_signed_integer_division_portability``).
- ``interarrival_stats`` — exact inter-event gap dynamics: LAG over
  each user's (ts, event_id)-ordered stream (users are the natural
  parallel grain — one window shuffle), gaps in whole seconds
  attributed to the LATER event's type, then exact integer moments
  per type: n, sum, min/max, mean in micro-seconds fixed point,
  variance in whole s^2 (``(n*sumsq - sum^2) / n^2`` — numerator in
  128-bit, provably >= 0), and the squared coefficient of variation
  in ppm (``(n*sumsq - sum^2) * 1e6 / sum^2``), NULL-guarded for the
  all-zero-gap degenerate in BOTH engines.

Reference scope note: the reference (smohiudd/gtfs-realtime-etl) has
no analytics surface of this kind; these are driver-mandated
LLM-pipeline / warehouse extensions (SURVEY.md §7 step 7).

At 100 TB: ``lorenz_gini`` aggregates at distinct-cents grain,
``js_divergence`` at event-type grain (both tiny after one map-side
combinable shuffle), ``kendall_trend`` caps its quadratic stage at
K^2 per type by construction, and ``interarrival_stats`` is one
user-grain window plus one type-grain aggregate.  The per-type
``count * lg_micro`` products in ``js_divergence`` are computed in
DECIMAL and emitted as BIGINT micro sums (the ``feature_mi``
contract: exact while counts stay below ~2e11, i.e. far past any
tested scale; widen the output to DECIMAL if a deployment ever
crosses it).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.functions.stats import (
    micro_bits,
    portable_int_log2_sql,
    portable_int_log2_staged,
)
from gtfs_realtime_etl_spark.plans.base import CENTS
from gtfs_realtime_etl_spark.sources.testdata import load_testdata


_OCENTS = "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"


# ---------------------------------------------------------------------------
# lorenz_gini
# ---------------------------------------------------------------------------


def q_lorenz_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini of per-customer revenue per market segment.

    Plan: orders aggregate to customer grain (one shuffle), shuffle
    equi-join to customer for the segment (both sides key-partitioned,
    AQE free to broadcast at small SF), histogram to (segment, cents)
    grain, ONE ordered window over that tiny grain for the cumulative
    count, and a final segment-grain aggregate.  Gini is over ACTIVE
    customers (>= 1 order) — a definition choice, documented here.
    """
    orders, customer = load_testdata(spark, sf_dir, "orders", "customer")
    cust_rev = orders.groupBy("o_custkey").agg(
        F.sum(F.expr(_OCENTS)).alias("cents")
    )
    seg = cust_rev.join(
        customer.select("c_custkey", F.col("c_mktsegment").alias("segment")),
        cust_rev.o_custkey == F.col("c_custkey"),
    ).select("segment", "cents")
    hist = seg.groupBy("segment", "cents").agg(F.count(F.lit(1)).alias("c"))
    w = (
        Window.partitionBy("segment")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    hist = hist.withColumn("cum", F.sum("c").over(w))
    # Per-cell slice of the rank numerator, n-free (see module doc):
    #   a = v * (2*c*cum - c*(c-1));  G_num = sum(a) - (n+1)*total.
    hist = hist.withColumn(
        "a_term",
        F.expr(
            "CAST(cents AS DECIMAL(38,0))"
            " * (2 * CAST(c AS DECIMAL(38,0)) * CAST(cum AS DECIMAL(38,0))"
            "    - CAST(c AS DECIMAL(38,0)) * CAST(c - 1 AS DECIMAL(38,0)))"
        ),
    )
    g = hist.groupBy("segment").agg(
        F.sum("c").alias("n"),
        F.sum(
            F.expr("CAST(cents AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))")
        ).alias("t"),
        F.sum("a_term").alias("a"),
    )
    return g.select(
        "segment",
        F.col("n").cast("long").alias("n_customers"),
        F.col("t").cast("long").alias("total_cents"),
        F.expr(
            "CAST(((a - (CAST(n AS DECIMAL(38,0)) + 1) * t) * 1000000)"
            " div (CAST(n AS DECIMAL(38,0)) * t) AS BIGINT)"
        ).alias("gini_ppm"),
    )


Q_LORENZ_GINI_SQL = f"""
WITH cust_rev AS (
  SELECT o_custkey, CAST(SUM({_OCENTS}) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
seg AS (
  SELECT c.c_mktsegment AS segment, r.cents
  FROM cust_rev r JOIN customer c ON r.o_custkey = c.c_custkey
),
hist AS (
  SELECT segment, cents, CAST(COUNT(*) AS BIGINT) AS c
  FROM seg GROUP BY 1, 2
),
cum AS (
  SELECT segment, cents, c,
         SUM(c) OVER (PARTITION BY segment ORDER BY cents
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM hist
),
g AS (
  SELECT segment,
         CAST(SUM(c) AS HUGEINT) AS n,
         SUM(CAST(cents AS HUGEINT) * CAST(c AS HUGEINT)) AS t,
         SUM(CAST(cents AS HUGEINT)
             * (2 * CAST(c AS HUGEINT) * CAST(cum AS HUGEINT)
                - CAST(c AS HUGEINT) * CAST(c - 1 AS HUGEINT))) AS a
  FROM cum GROUP BY 1
)
SELECT segment,
       CAST(n AS BIGINT) AS n_customers,
       CAST(t AS BIGINT) AS total_cents,
       CAST(((a - (n + 1) * t) * 1000000) // (n * t) AS BIGINT) AS gini_ppm
FROM g
"""


# ---------------------------------------------------------------------------
# js_divergence
# ---------------------------------------------------------------------------

#: Sentinel event_type for the corpus-level total row.
JS_TOTAL_ROW = "__TOTAL__"


def _mul_micro(cnt: Column, lg: Column) -> Column:
    """count × micro-log product in DECIMAL (the _js_term idiom)."""
    return cnt.cast("decimal(18,0)") * lg.cast("decimal(12,0)")


def q_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized Jensen–Shannon drift between temporal halves.

    Output: one row per event type with its half counts and exact
    per-type micro contribution, plus a ``__TOTAL__`` row whose
    ``term_micro`` is N*JS itself (the same count form applied to the
    half totals, minus the per-type sum — see module doc).

    Plan: TWO event scans total — one for the midpoint scalar, one for
    the counts, which ROLLUP to both the per-type and the grand-total
    grain in a single aggregate (event_type is non-null by schema, so
    the rollup's null row is unambiguous); the total row's subtraction
    of the per-type sum is a window over the tiny aggregate output,
    not a second pass."""
    (events,) = load_testdata(spark, sf_dir, "events")
    cut = events.agg(F.expr("(min(ts) + max(ts)) div 2").alias("cut"))
    counts = (
        events.crossJoin(F.broadcast(cut))
        .select(
            "event_type",
            F.expr("CASE WHEN ts >= cut THEN 1 ELSE 0 END").alias("post"),
        )
        .rollup("event_type")
        .agg(
            F.sum(F.expr("1 - post")).cast("long").alias("c0"),
            F.sum("post").cast("long").alias("c1"),
        )
    )
    # Staged SQL-parsed log2 (round-12): _js_term's three inline
    # Column-Horner instances cost ~0.6 s of py4j plan construction
    # per build; the staged form is bit-identical (grid pin) and the
    # GREATEST(c, 1) totalization + micro_bits wrap are applied
    # unchanged on the staged doubles.
    staged = portable_int_log2_staged(
        counts,
        {
            "_lg_both": "greatest(c0 + c1, 1)",
            "_lg_c0": "greatest(c0, 1)",
            "_lg_c1": "greatest(c1, 1)",
        },
    )
    terms = staged.withColumn(
        "term_raw",
        (
            _mul_micro(F.col("c0") + F.col("c1"), micro_bits(F.col("_lg_both")))
            - _mul_micro(F.col("c0"), micro_bits(F.col("_lg_c0")))
            - _mul_micro(F.col("c1"), micro_bits(F.col("_lg_c1")))
        ).cast("long"),
    ).drop("_lg_both", "_lg_c0", "_lg_c1")
    w = Window.partitionBy()
    per_type_sum = F.sum(
        F.when(F.col("event_type").isNotNull(), F.col("term_raw")).otherwise(
            F.lit(0)
        )
    ).over(w)
    return terms.select(
        F.coalesce(F.col("event_type"), F.lit(JS_TOTAL_ROW)).alias(
            "event_type"
        ),
        "c0",
        "c1",
        F.when(
            F.col("event_type").isNull(),
            F.col("term_raw") - per_type_sum,
        )
        .otherwise(F.col("term_raw"))
        .cast("long")
        .alias("term_micro"),
    )


def _js_divergence_sql() -> str:
    def lgm(prefix: str) -> str:
        return f"CAST(floor({prefix}_lg * 1000000.0 + 0.5) AS BIGINT)"

    return f"""
WITH cut AS (SELECT (MIN(epoch_ns(ts)) + MAX(epoch_ns(ts))) // 2 AS cut
             FROM events),
counts AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN epoch_ns(ts) >= cut THEN 0 ELSE 1 END)
              AS BIGINT) AS c0,
         CAST(SUM(CASE WHEN epoch_ns(ts) >= cut THEN 1 ELSE 0 END)
              AS BIGINT) AS c1
  FROM events, cut GROUP BY 1
),
lgs AS (
  SELECT event_type, c0, c1,
         {portable_int_log2_sql("GREATEST(c0 + c1, 1)", "lb")},
         {portable_int_log2_sql("GREATEST(c0, 1)", "l0")},
         {portable_int_log2_sql("GREATEST(c1, 1)", "l1")}
  FROM counts
),
terms AS (
  SELECT event_type, c0, c1,
         CAST(CAST(c0 + c1 AS DECIMAL(18,0)) * CAST({lgm("lb")} AS DECIMAL(12,0))
              - CAST(c0 AS DECIMAL(18,0)) * CAST({lgm("l0")} AS DECIMAL(12,0))
              - CAST(c1 AS DECIMAL(18,0)) * CAST({lgm("l1")} AS DECIMAL(12,0))
           AS BIGINT) AS term_micro
  FROM lgs
),
tot AS (
  SELECT CAST(SUM(c0) AS BIGINT) AS n0, CAST(SUM(c1) AS BIGINT) AS n1,
         CAST(SUM(term_micro) AS BIGINT) AS terms_sum
  FROM terms
),
tot_lgs AS (
  SELECT n0, n1, terms_sum,
         {portable_int_log2_sql("GREATEST(n0 + n1, 1)", "lb")},
         {portable_int_log2_sql("GREATEST(n0, 1)", "l0")},
         {portable_int_log2_sql("GREATEST(n1, 1)", "l1")}
  FROM tot
)
SELECT event_type, c0, c1, term_micro FROM terms
UNION ALL
SELECT '{JS_TOTAL_ROW}' AS event_type, n0 AS c0, n1 AS c1,
       CAST(CAST(n0 + n1 AS DECIMAL(18,0)) * CAST({lgm("lb")} AS DECIMAL(12,0))
            - CAST(n0 AS DECIMAL(18,0)) * CAST({lgm("l0")} AS DECIMAL(12,0))
            - CAST(n1 AS DECIMAL(18,0)) * CAST({lgm("l1")} AS DECIMAL(12,0))
         AS BIGINT) - terms_sum AS term_micro
FROM tot_lgs
"""


Q_JS_DIVERGENCE_SQL = _js_divergence_sql()


# ---------------------------------------------------------------------------
# kendall_trend
# ---------------------------------------------------------------------------

#: Per-type sample bound — caps the quadratic pair stage at K*(K-1)/2
#: pairs per event type no matter the corpus size.
KENDALL_K = 40
#: Salt width for the two-phase sample rank: phase 1 ranks inside
#: (type, salt) cells (data-parallel over NSALT * n_types cells), phase
#: 2 re-ranks the <= K*NSALT survivors per type — the registry's salted
#: two-phase top-k idiom, equivalent to a single global rank because
#: the global top-K by (hash, event_id) is contained in the union of
#: per-salt top-Ks.
KENDALL_NSALT = 64
#: Knuth multiplicative-hash constants for the deterministic sample
#: order (both in-engine expressions stay far inside int64).
_KH_MOD1 = 1_048_573
_KH_MULT = 2_654_435_761
_KH_MOD2 = 2_147_483_647

_KH_EXPR = f"((event_id % {_KH_MOD1}) * {_KH_MULT}) % {_KH_MOD2}"


def kendall_counts(events: DataFrame) -> DataFrame:
    """Kendall concordance of value vs time per event type over a
    bounded deterministic sample (see module doc) — the testable
    kernel behind ``kendall_trend``.

    Pair classes on the (ts, event_id)-sorted sample, i < j:
    ts tie -> tie_t; value tie -> tie_v; value up -> concordant;
    value down -> discordant.  tau_ppm = (conc - disc) * 1e6 over all
    K*(K-1)/2 pairs (tau-a; ties reported, not corrected)."""
    base = events.select(
        "event_type",
        "event_id",
        "ts",
        F.expr(CENTS).alias("cents"),
        F.expr(_KH_EXPR).alias("h"),
        (F.col("event_id") % KENDALL_NSALT).alias("salt"),
    )
    w1 = Window.partitionBy("event_type", "salt").orderBy("h", "event_id")
    cell_topk = base.withColumn("crn", F.row_number().over(w1)).filter(
        F.col("crn") <= KENDALL_K
    )
    w2 = Window.partitionBy("event_type").orderBy("h", "event_id")
    samp = (
        cell_topk.withColumn("hrn", F.row_number().over(w2))
        .filter(F.col("hrn") <= KENDALL_K)
        .select("event_type", "event_id", "ts", "cents")
    )
    arrs = samp.groupBy("event_type").agg(
        F.expr("array_sort(collect_list(struct(ts, event_id, cents)))")
        .alias("arr")
    )
    cls = arrs.select(
        "event_type",
        F.size("arr").alias("n_sample"),
        F.expr(
            "flatten(transform(arr, (a, i) ->"
            " transform(slice(arr, i + 2, size(arr)), b ->"
            " CASE WHEN a.ts = b.ts THEN 0"
            "      WHEN a.cents = b.cents THEN 1"
            "      WHEN b.cents > a.cents THEN 2"
            "      ELSE 3 END)))"
        ).alias("cls"),
    ).filter(F.col("n_sample") >= 2)
    counted = cls.select(
        "event_type",
        F.col("n_sample").cast("long").alias("n_sample"),
        F.expr(
            "CAST(n_sample AS BIGINT) * (n_sample - 1) div 2"
        ).alias("n_pairs"),
        F.expr("CAST(size(filter(cls, x -> x = 2)) AS BIGINT)").alias("conc"),
        F.expr("CAST(size(filter(cls, x -> x = 3)) AS BIGINT)").alias("disc"),
        F.expr("CAST(size(filter(cls, x -> x = 1)) AS BIGINT)").alias(
            "tie_value"
        ),
        F.expr("CAST(size(filter(cls, x -> x = 0)) AS BIGINT)").alias(
            "tie_time"
        ),
    )
    # Signed truncating division — identical in both engines (pinned by
    # test_signed_integer_division_portability).
    return counted.withColumn(
        "tau_ppm", F.expr("(conc - disc) * 1000000 div n_pairs")
    )


def q_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    return kendall_counts(events)


Q_KENDALL_TREND_SQL = f"""
WITH ranked AS (
  SELECT event_type, event_id, epoch_ns(ts) AS ts, {CENTS} AS cents,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY {_KH_EXPR}, event_id) AS hrn
  FROM events
),
samp AS (
  SELECT event_type, event_id, ts, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ts, event_id, cents) AS rn
  FROM ranked WHERE hrn <= {KENDALL_K}
),
pairs AS (
  SELECT a.event_type,
         CASE WHEN a.ts = b.ts THEN 0
              WHEN a.cents = b.cents THEN 1
              WHEN b.cents > a.cents THEN 2
              ELSE 3 END AS cls
  FROM samp a JOIN samp b
    ON a.event_type = b.event_type AND a.rn < b.rn
),
agg AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN cls = 2 THEN 1 ELSE 0 END) AS BIGINT) AS conc,
         CAST(SUM(CASE WHEN cls = 3 THEN 1 ELSE 0 END) AS BIGINT) AS disc,
         CAST(SUM(CASE WHEN cls = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS tie_value,
         CAST(SUM(CASE WHEN cls = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS tie_time,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM pairs GROUP BY 1
),
sizes AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sample
  FROM samp GROUP BY 1 HAVING COUNT(*) >= 2
)
SELECT s.event_type, s.n_sample, a.n_pairs, a.conc, a.disc,
       a.tie_value, a.tie_time,
       (a.conc - a.disc) * 1000000 // a.n_pairs AS tau_ppm
FROM sizes s JOIN agg a ON s.event_type = a.event_type
"""


# ---------------------------------------------------------------------------
# interarrival_stats
# ---------------------------------------------------------------------------

_NS_PER_S = 1_000_000_000


def q_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact inter-event gap moments per event type (see module doc)."""
    (events,) = load_testdata(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        events.select("user_id", "event_id", "ts", "event_type")
        .withColumn("prev_ts", F.lag("ts").over(w))
        .filter(F.col("prev_ts").isNotNull())
        .select(
            "event_type",
            F.expr(f"(ts - prev_ts) div {_NS_PER_S}").alias("gap_s"),
        )
    )
    stats = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("gap_s").alias("s"),
        F.sum(
            F.expr("CAST(gap_s AS DECIMAL(38,0)) * CAST(gap_s AS DECIMAL(38,0))")
        ).alias("q"),
        F.min("gap_s").alias("min_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
    )
    return stats.select(
        "event_type",
        F.col("n").cast("long").alias("n_gaps"),
        F.col("s").cast("long").alias("sum_gap_s"),
        F.col("min_gap_s").cast("long").alias("min_gap_s"),
        F.col("max_gap_s").cast("long").alias("max_gap_s"),
        F.expr(
            "CAST((CAST(s AS DECIMAL(38,0)) * 1000000)"
            " div CAST(n AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("mean_gap_micro"),
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * q"
            " - CAST(s AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0)))"
            " div (CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)))"
            " AS BIGINT)"
        ).alias("var_s2"),
        F.expr(
            "CASE WHEN s > 0 THEN"
            " CAST(((CAST(n AS DECIMAL(38,0)) * q"
            " - CAST(s AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0)))"
            " * 1000000)"
            " div (CAST(s AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0)))"
            " AS BIGINT) END"
        ).alias("cv2_ppm"),
    )


Q_INTERARRIVAL_STATS_SQL = f"""
WITH gaps AS (
  SELECT event_type,
         (epoch_ns(ts) - LAG(epoch_ns(ts)) OVER (
            PARTITION BY user_id ORDER BY ts, event_id))
           // {_NS_PER_S} AS gap_s
  FROM events
),
stats AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(gap_s) AS BIGINT) AS s,
         SUM(CAST(gap_s AS HUGEINT) * CAST(gap_s AS HUGEINT)) AS q,
         CAST(MIN(gap_s) AS BIGINT) AS min_gap_s,
         CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
  FROM gaps WHERE gap_s IS NOT NULL GROUP BY 1
)
SELECT event_type, n AS n_gaps, s AS sum_gap_s, min_gap_s, max_gap_s,
       CAST((CAST(s AS HUGEINT) * 1000000) // CAST(n AS HUGEINT)
         AS BIGINT) AS mean_gap_micro,
       CAST((CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * CAST(s AS HUGEINT))
            // (CAST(n AS HUGEINT) * CAST(n AS HUGEINT)) AS BIGINT) AS var_s2,
       CASE WHEN s > 0 THEN
         CAST(((CAST(n AS HUGEINT) * q
                - CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) * 1000000)
              // (CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS BIGINT)
       END AS cv2_ppm
FROM stats
"""


QUERIES = {
    "lorenz_gini": q_lorenz_gini,
    "js_divergence": q_js_divergence,
    "kendall_trend": q_kendall_trend,
    "interarrival_stats": q_interarrival_stats,
}

ORACLE_SQL = {
    "lorenz_gini": Q_LORENZ_GINI_SQL,
    "js_divergence": Q_JS_DIVERGENCE_SQL,
    "kendall_trend": Q_KENDALL_TREND_SQL,
    "interarrival_stats": Q_INTERARRIVAL_STATS_SQL,
}
