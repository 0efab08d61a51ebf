"""Twenty-third query bank: time-constrained funnels, cohort LTV,
Markov entropy rate, and degree assortativity.

- ``window_funnel`` — the ClickHouse-style time-constrained funnel:
  a user reaches level k when SOME chain view -> click -> purchase
  prefix of length k exists with strictly increasing timestamps and
  the whole chain inside ``FUNNEL_WINDOW_NS`` of its first step
  (exists-a-chain semantics, NOT greedy-first-step: a later view may
  complete a window an earlier view misses).  Per-user per-type event
  lists are capped at ``FUNNEL_CAP`` earliest events (deterministic
  (ts, event_id) order, mirrored in both engines) so the in-row
  chain search is O(CAP^3) worst-case per user with short-circuiting
  `exists` HOFs — bounded by construction at any corpus size.  Output
  is the level histogram with per-level user share in ppm, computed
  by a window total over the <= 4-row aggregate (no extra scan).
- ``cohort_ltv`` — lifetime value curve: cohort = week of a user's
  first event (integer ns-epoch week arithmetic, the
  ``retention_cohorts`` idiom — no calendar/timezone surface), cells
  at (cohort_week, offset_week) carry exact revenue cents, a window
  cumulates each cohort's curve, and cumulative LTV per cohort user
  is exact micro-cents fixed point (``cum_cents * 1e6 div n_users``).
- ``markov_entropy_rate`` — the entropy rate of the first-order
  event-type chain, in exact count form: per source state,
  ``h_term = n_s*lg(n_s) - sum_t n_st*lg(n_st)`` (micro units on
  ``portable_int_log2_staged`` — every log is of a positive integer), and
  ``N * H_rate`` is just the sum of the per-state terms (emitted as a
  ``__TOTAL__`` row).  Complements ``markov_transitions`` (which
  reports the row-stochastic matrix, not its entropy).
- ``degree_assortativity`` — Newman's degree assortativity of the
  co-purchase graph (parts co-occurring in an order, the
  ``basket_rules`` basket bound): each undirected edge contributes
  both orientations, so the Pearson correlation of endpoint degrees
  collapses to integer sums M, Sx = sum(deg), Sxy, Sxx with
  ``r = (M*Sxy - Sx^2) / (M*Sxx - Sx^2)`` — numerator and denominator
  exact in 128-bit, r in SIGNED ppm via truncating division (both
  engines truncate toward zero — pinned by
  ``tests/test_analytics18.py::test_signed_integer_division_portability``).
  On a degree-regular graph the denominator is 0 and r is NULL in
  both engines (round-10 guard).  Overflow contract: the 128-bit
  moments hold up to |num|, den <= 4E^2*dmax^2 < 1e38; the BIGINT
  output casts of num/den additionally require them < 9.2e18 (e.g.
  E = 1e6 edges with dmax = 1e3 sits at ~4e18) — beyond that BOTH
  engines fail loudly (Spark runs ANSI-on, DuckDB always checks), a
  deliberate fail-closed bound rather than silent divergence; shard
  the edge set or quantize (the spearman_corr g-pattern,
  analytics20.py) if a corpus ever reaches it.

Reference scope note: the reference (smohiudd/gtfs-realtime-etl) has
no analytics surface of this kind; these are driver-mandated
LLM-pipeline / warehouse extensions (SURVEY.md §7 step 7).

At 100 TB: ``window_funnel`` is one (user,type)-grain window plus one
user-grain aggregate with per-row O(CAP^3) short-circuit search;
``cohort_ltv`` is user-grain then (cohort,week)-grain (tiny) with a
window over the tiny grain; ``markov_entropy_rate`` is user-grain lag
then type-pair-grain (tiny); ``degree_assortativity`` is bounded by
the basket cap: order-grain, pair-grain distinct, node-grain degree,
and a 1-row moment aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.functions.stats import (
    micro_bits,
    portable_int_log2_sql,
    portable_int_log2_staged,
)
from gtfs_realtime_etl_spark.plans.base import CENTS, NS_PER_DAY
from gtfs_realtime_etl_spark.sources.testdata import load_testdata


_NS_PER_WEEK = 7 * NS_PER_DAY


# ---------------------------------------------------------------------------
# window_funnel
# ---------------------------------------------------------------------------

#: Funnel stages (the analytics.py FUNNEL triple) and the chain window.
FUNNEL_STAGES = ("view", "click", "purchase")
FUNNEL_WINDOW_NS = NS_PER_DAY // 2
#: Per-(user, stage) cap on candidate events (earliest first) — bounds
#: the in-row chain search at CAP^3 regardless of corpus size.
FUNNEL_CAP = 64


def funnel_levels(events: DataFrame) -> DataFrame:
    """Per-user funnel level over an (user_id, event_id, ts,
    event_type) frame — the testable kernel behind ``window_funnel``
    (scale smokes feed it synthetic corpora)."""
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    capped = (
        events.select("user_id", "event_id", "ts", "event_type")
        .filter(F.col("event_type").isin(*FUNNEL_STAGES))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= FUNNEL_CAP)
    )
    per_user = capped.groupBy("user_id").agg(
        *[
            F.expr(
                "array_sort(collect_list(CASE WHEN event_type ="
                f" '{stage}' THEN ts END))"
            ).alias(f"ts{i}")
            for i, stage in enumerate(FUNNEL_STAGES)
        ]
    )
    # array_sort puts NULLs (non-matching CASE rows) last; strip them.
    per_user = per_user.select(
        "user_id",
        *[
            F.expr(f"filter(ts{i}, x -> x IS NOT NULL)").alias(f"ts{i}")
            for i in range(len(FUNNEL_STAGES))
        ],
    )
    lvl = per_user.select(
        "user_id",
        F.expr(
            "CASE WHEN exists(ts0, v -> exists(ts1, c -> c > v AND"
            " exists(ts2, p -> p > c AND"
            f" p - v <= {FUNNEL_WINDOW_NS}))) THEN 3"
            " WHEN exists(ts0, v -> exists(ts1, c -> c > v AND"
            f" c - v <= {FUNNEL_WINDOW_NS})) THEN 2"
            " WHEN size(ts0) > 0 THEN 1 ELSE 0 END"
        ).alias("level"),
    )
    hist = lvl.groupBy("level").agg(F.count(F.lit(1)).alias("n_users"))
    # Share of users per level: a window total over the <= 4-row
    # aggregate output — stays in-plan, no extra scan or scalar join.
    return hist.withColumn(
        "total", F.sum("n_users").over(Window.partitionBy())
    ).select(
        F.col("level").cast("long").alias("level"),
        F.col("n_users").cast("long").alias("n_users"),
        F.expr(
            "CAST((CAST(n_users AS DECIMAL(38,0)) * 1000000)"
            " div CAST(total AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("users_ppm"),
    )


def q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    return funnel_levels(events)


Q_WINDOW_FUNNEL_SQL = f"""
WITH capped AS (
  SELECT user_id, event_type, epoch_ns(ts) AS ts
  FROM (
    SELECT user_id, event_type, ts, event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts, event_id) AS rn
    FROM events
    WHERE event_type IN ('view', 'click', 'purchase')
  ) WHERE rn <= {FUNNEL_CAP}
),
users AS (SELECT DISTINCT user_id FROM capped),
lvl AS (
  SELECT u.user_id,
         CASE WHEN EXISTS (
                SELECT 1 FROM capped v, capped c, capped p
                WHERE v.user_id = u.user_id AND v.event_type = 'view'
                  AND c.user_id = u.user_id AND c.event_type = 'click'
                  AND p.user_id = u.user_id AND p.event_type = 'purchase'
                  AND c.ts > v.ts AND p.ts > c.ts
                  AND p.ts - v.ts <= {FUNNEL_WINDOW_NS})
              THEN 3
              WHEN EXISTS (
                SELECT 1 FROM capped v, capped c
                WHERE v.user_id = u.user_id AND v.event_type = 'view'
                  AND c.user_id = u.user_id AND c.event_type = 'click'
                  AND c.ts > v.ts AND c.ts - v.ts <= {FUNNEL_WINDOW_NS})
              THEN 2
              WHEN EXISTS (
                SELECT 1 FROM capped v
                WHERE v.user_id = u.user_id AND v.event_type = 'view')
              THEN 1 ELSE 0 END AS level
  FROM users u
),
hist AS (
  SELECT level, CAST(COUNT(*) AS BIGINT) AS n_users FROM lvl GROUP BY 1
)
SELECT CAST(level AS BIGINT) AS level, n_users,
       CAST((CAST(n_users AS HUGEINT) * 1000000)
            // CAST(SUM(n_users) OVER () AS HUGEINT) AS BIGINT) AS users_ppm
FROM hist
"""


# ---------------------------------------------------------------------------
# cohort_ltv
# ---------------------------------------------------------------------------


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    base = events.select(
        "user_id",
        F.expr(f"ts div {_NS_PER_WEEK}").alias("week"),
        F.expr(CENTS).alias("cents"),
    )
    first = base.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    cohort_sizes = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    cells = (
        base.join(first, "user_id")
        .select(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("offset_week"),
            "cents",
        )
        .groupBy("cohort_week", "offset_week")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("offset_week")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    curve = cells.withColumn("cum_cents", F.sum("rev_cents").over(w))
    return curve.join(F.broadcast(cohort_sizes), "cohort_week").select(
        F.col("cohort_week").cast("long").alias("cohort_week"),
        F.col("offset_week").cast("long").alias("offset_week"),
        F.col("n_users").cast("long").alias("n_users"),
        F.col("rev_cents").cast("long").alias("rev_cents"),
        F.col("cum_cents").cast("long").alias("cum_cents"),
        F.expr(
            "CAST((CAST(cum_cents AS DECIMAL(38,0)) * 1000000)"
            " div CAST(n_users AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("ltv_micro"),
    )


Q_COHORT_LTV_SQL = f"""
WITH base AS (
  SELECT user_id, epoch_ns(ts) // {_NS_PER_WEEK} AS week,
         {CENTS} AS cents
  FROM events
),
first AS (
  SELECT user_id, MIN(week) AS cohort_week FROM base GROUP BY 1
),
sizes AS (
  SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS n_users
  FROM first GROUP BY 1
),
cells AS (
  SELECT f.cohort_week, b.week - f.cohort_week AS offset_week,
         CAST(SUM(b.cents) AS BIGINT) AS rev_cents
  FROM base b JOIN first f ON b.user_id = f.user_id
  GROUP BY 1, 2
),
curve AS (
  SELECT cohort_week, offset_week, rev_cents,
         CAST(SUM(rev_cents) OVER (PARTITION BY cohort_week
                                   ORDER BY offset_week
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_cents
  FROM cells
)
SELECT c.cohort_week, c.offset_week, s.n_users, c.rev_cents, c.cum_cents,
       CAST((CAST(c.cum_cents AS HUGEINT) * 1000000)
            // CAST(s.n_users AS HUGEINT) AS BIGINT) AS ltv_micro
FROM curve c JOIN sizes s ON c.cohort_week = s.cohort_week
"""


# ---------------------------------------------------------------------------
# markov_entropy_rate
# ---------------------------------------------------------------------------

ME_TOTAL_ROW = "__TOTAL__"


def q_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        events.select("user_id", "event_id", "ts", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_st"))
    )
    # Per source state: n_s*lg(n_s) - sum_t n_st*lg(n_st), exact micro.
    # Both log2 instances ride portable_int_log2_staged (round-12 —
    # bit-identical, grid-pinned; the inline Column-Horner trees cost
    # ~0.5 s of py4j plan construction per build): the transition-count
    # log is staged as a projection BEFORE the per-state aggregate
    # (same values the old in-aggregate expression computed per row),
    # the source-total log after it.
    trans_lg = portable_int_log2_staged(
        trans, {"_lg_nst": "greatest(n_st, 1)"}
    )
    per_state = trans_lg.groupBy("prev_type").agg(
        F.sum("n_st").cast("long").alias("n_from"),
        F.countDistinct("next_type").cast("long").alias("k_next"),
        F.sum(
            F.col("n_st").cast("decimal(18,0)")
            * micro_bits(F.col("_lg_nst")).cast("decimal(12,0)")
        ).alias("inner_sum"),
    )
    terms = portable_int_log2_staged(
        per_state, {"_lg_nfrom": "greatest(n_from, 1)"}
    ).select(
        "prev_type",
        "n_from",
        "k_next",
        (
            F.col("n_from").cast("decimal(18,0)")
            * micro_bits(F.col("_lg_nfrom")).cast("decimal(12,0)")
            - F.col("inner_sum")
        )
        .cast("long")
        .alias("h_term_micro"),
    )
    total = terms.agg(
        F.sum("n_from").cast("long").alias("n_from"),
        F.sum("k_next").cast("long").alias("k_next"),
        F.sum("h_term_micro").cast("long").alias("h_term_micro"),
    ).select(
        F.lit(ME_TOTAL_ROW).alias("prev_type"),
        "n_from",
        "k_next",
        "h_term_micro",
    )
    return terms.unionAll(total)


def _markov_entropy_rate_sql() -> str:
    lgm = "CAST(floor({p}_lg * 1000000.0 + 0.5) AS BIGINT)"
    return f"""
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
),
trans AS (
  SELECT prev_type, event_type AS next_type,
         CAST(COUNT(*) AS BIGINT) AS n_st
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
inner_lg AS (
  SELECT prev_type, n_st,
         {portable_int_log2_sql("GREATEST(n_st, 1)", "li")}
  FROM trans
),
per_state AS (
  SELECT prev_type,
         CAST(SUM(n_st) AS BIGINT) AS n_from,
         CAST(COUNT(*) AS BIGINT) AS k_next,
         CAST(SUM(CAST(n_st AS DECIMAL(18,0))
             * CAST({lgm.format(p="li")} AS DECIMAL(12,0))) AS BIGINT)
           AS inner_sum
  FROM inner_lg GROUP BY 1
),
state_lg AS (
  SELECT prev_type, n_from, k_next, inner_sum,
         {portable_int_log2_sql("GREATEST(n_from, 1)", "ls")}
  FROM per_state
),
terms AS (
  SELECT prev_type, n_from, k_next,
         CAST(CAST(n_from AS DECIMAL(18,0))
              * CAST({lgm.format(p="ls")} AS DECIMAL(12,0)) AS BIGINT)
           - inner_sum AS h_term_micro
  FROM state_lg
)
SELECT prev_type, n_from, k_next, h_term_micro FROM terms
UNION ALL
SELECT '{ME_TOTAL_ROW}' AS prev_type,
       CAST(SUM(n_from) AS BIGINT) AS n_from,
       CAST(SUM(k_next) AS BIGINT) AS k_next,
       CAST(SUM(h_term_micro) AS BIGINT) AS h_term_micro
FROM terms
"""


Q_MARKOV_ENTROPY_RATE_SQL = _markov_entropy_rate_sql()


# ---------------------------------------------------------------------------
# degree_assortativity
# ---------------------------------------------------------------------------

#: Same basket bound as apriori_triples / basket_rules.
ASSORT_BASKET_CAP = 32


def assortativity_report(edges: DataFrame) -> DataFrame:
    """Newman degree assortativity over a distinct undirected (u, v)
    edge frame — the testable kernel behind ``degree_assortativity``
    (the degenerate degree-regular case must emit NULL identically in
    both engines)."""
    # Two-scan unionAll degree, NOT explode([u, v]) (round-13 revert of
    # the round-12 form): the union's two edge legs are the SAME
    # subtree as the endpoint joins below, so AQE runtime exchange
    # reuse dedups all of them into one execution — while the explode
    # is a DIFFERENT subtree that forces its own pass over the edge
    # pipeline.  Interleaved A/B at sf0.1 (commit f1f81f1, 21
    # alternated rounds incl. an order-reversed batch): union+reuse
    # med 3.34-4.73 s vs explode forms 3.96-4.85 s.
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    both = (
        edges.join(deg.withColumnRenamed("node", "u"), "u")
        .withColumnRenamed("deg", "du")
        .join(
            deg.withColumnRenamed("node", "v").withColumnRenamed(
                "deg", "dv"
            ),
            "v",
        )
    )
    # Each undirected edge contributes both orientations: M = 2E,
    # Sx = sum(du + dv), Sxy = 2 * sum(du * dv), Sxx = sum(du^2 + dv^2).
    mom = both.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.sum(F.expr("du + dv")).cast("long").alias("sx"),
        F.sum(
            F.expr(
                "2 * CAST(du AS DECIMAL(38,0)) * CAST(dv AS DECIMAL(38,0))"
            )
        ).alias("sxy"),
        F.sum(
            F.expr(
                "CAST(du AS DECIMAL(38,0)) * CAST(du AS DECIMAL(38,0))"
                " + CAST(dv AS DECIMAL(38,0)) * CAST(dv AS DECIMAL(38,0))"
            )
        ).alias("sxx"),
    )
    n_nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    return mom.crossJoin(F.broadcast(n_nodes)).select(
        "n_nodes",
        "n_edges",
        F.expr("2 * n_edges").cast("long").alias("m_terms"),
        F.col("sx").alias("sx"),
        F.col("sxy").cast("long").alias("sxy"),
        F.col("sxx").cast("long").alias("sxx"),
        F.expr(
            "CAST(2 * CAST(n_edges AS DECIMAL(38,0)) * sxy"
            " - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))"
            " AS BIGINT)"
        ).alias("num"),
        F.expr(
            "CAST(2 * CAST(n_edges AS DECIMAL(38,0)) * sxx"
            " - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))"
            " AS BIGINT)"
        ).alias("den"),
        # den = 0 on a degree-regular graph (every node the same
        # degree, e.g. all edges isolated pairs): assortativity is
        # undefined there, and unguarded the engines diverge (Spark
        # decimal div -> NULL vs DuckDB // -> error), so both sides
        # emit NULL explicitly — the spearman_corr degenerate-case
        # convention.
        F.expr(
            "CASE WHEN (2 * CAST(n_edges AS DECIMAL(38,0)) * sxx"
            " - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0)))"
            " > 0 THEN"
            " CAST((2 * CAST(n_edges AS DECIMAL(38,0)) * sxy"
            " - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0)))"
            " * 1000000"
            " div (2 * CAST(n_edges AS DECIMAL(38,0)) * sxx"
            " - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0)))"
            " AS BIGINT) END"
        ).alias("r_ppm"),
    )


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = load_testdata(spark, sf_dir, "lineitem")
    items = lineitem.select("l_orderkey", "l_partkey").distinct()
    baskets = items.groupBy("l_orderkey").agg(
        F.expr(
            f"slice(array_sort(collect_set(l_partkey)), 1, {ASSORT_BASKET_CAP})"
        ).alias("parts")
    ).filter(F.size("parts") >= 2)
    edges = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, (a, i) ->"
                    " transform(slice(parts, i + 2, size(parts)), b ->"
                    " struct(a AS u, b AS v))))"
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
    )
    # UNSTAGED edges (round-13 revert of the round-12 stage_to_tmp):
    # the static plan replays the basket lineage per consumer (44
    # exchanges on paper), but at runtime AQE exchange reuse executes
    # it once — the staged write was a pure extra write+read job.
    # Interleaved A/B at sf0.1 (commit f1f81f1, run-for-run
    # alternated, 21 rounds incl. an order-reversed batch): unstaged
    # med 3.34/3.69/4.73 s per batch vs staged 4.15/4.05/4.85 s.
    return assortativity_report(edges)


Q_DEGREE_ASSORTATIVITY_SQL = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
ranked AS (
  SELECT l_orderkey, l_partkey,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
                            ORDER BY l_partkey) AS rn
  FROM items
),
capped AS (SELECT * FROM ranked WHERE rn <= {ASSORT_BASKET_CAP}),
edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM capped a JOIN capped b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
  ) GROUP BY 1
),
oriented AS (
  SELECT e.u, e.v, a.deg AS du, b.deg AS dv
  FROM edges e JOIN deg a ON e.u = a.node JOIN deg b ON e.v = b.node
),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
         CAST(SUM(du + dv) AS BIGINT) AS sx,
         SUM(2 * CAST(du AS HUGEINT) * CAST(dv AS HUGEINT)) AS sxy,
         SUM(CAST(du AS HUGEINT) * CAST(du AS HUGEINT)
             + CAST(dv AS HUGEINT) * CAST(dv AS HUGEINT)) AS sxx
  FROM oriented
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg)
SELECT n_nodes, n_edges,
       CAST(2 * n_edges AS BIGINT) AS m_terms,
       sx,
       CAST(sxy AS BIGINT) AS sxy,
       CAST(sxx AS BIGINT) AS sxx,
       CAST(2 * CAST(n_edges AS HUGEINT) * sxy
            - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS BIGINT) AS num,
       CAST(2 * CAST(n_edges AS HUGEINT) * sxx
            - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS BIGINT) AS den,
       CASE WHEN (2 * CAST(n_edges AS HUGEINT) * sxx
                  - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT)) > 0 THEN
         CAST((2 * CAST(n_edges AS HUGEINT) * sxy
               - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT)) * 1000000
              // (2 * CAST(n_edges AS HUGEINT) * sxx
                  - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT))
           AS BIGINT) END AS r_ppm
FROM mom CROSS JOIN nn
"""


QUERIES = {
    "window_funnel": q_window_funnel,
    "cohort_ltv": q_cohort_ltv,
    "markov_entropy_rate": q_markov_entropy_rate,
    "degree_assortativity": q_degree_assortativity,
}

ORACLE_SQL = {
    "window_funnel": Q_WINDOW_FUNNEL_SQL,
    "cohort_ltv": Q_COHORT_LTV_SQL,
    "markov_entropy_rate": Q_MARKOV_ENTROPY_RATE_SQL,
    "degree_assortativity": Q_DEGREE_ASSORTATIVITY_SQL,
}
