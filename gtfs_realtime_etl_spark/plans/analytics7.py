"""Eleventh query bank: Pareto skyline, categorical mutual information,
market-basket association rules, positional phrase search.

- ``skyline_pareto`` — the Pareto-optimal frontier of orders under
  (maximize o_totalprice, minimize o_orderdate).  Plan shape: the
  classic two-phase distributed skyline — a per-partition window prune
  (each partition sorts locally by price desc / date asc; a point
  survives only if no preceding local point has date ≤ its date),
  then the same prune once more over the union of local survivors.
  Dominance is transitive, so local pruning never removes a frontier
  point; the global pass sees only the (tiny) candidate set.  No
  quadratic join anywhere — the oracle is the quadratic NOT-EXISTS
  dominance anti-join, which is exactly what this plan avoids.
- ``feature_mi`` — mutual information between categorical column
  pairs (order priority × status; lineitem returnflag × linestatus;
  event type × hour-of-day).  All marginals are integer window/group
  sums over the (tiny) joint contingency table; log terms use the
  portable integer log2 (functions/stats.py) rounded to 12 dp, and
  the MI / entropy accumulations ride DECIMAL products so the sums
  are engine-exact (the ``bigram_lm_score`` discipline: output the
  exact sums plus counts, never a pre-divided average that can land
  on a round-half boundary).
- ``basket_rules`` — pairwise association rules over order baskets
  (parts co-purchased in one order): support, directional confidence,
  lift.  ONE corpus shuffle builds per-order part sets; canonical
  pairs are generated inside each basket row with higher-order
  functions, so pair blowup is bounded by the basket size — never
  corpus-quadratic — and the item/total statistics reuse the same
  basket aggregate.
- ``phrase_search`` — exact positional phrase lookup (the inverted-
  index complement to ``bm25_topk``'s ranked retrieval): every match
  offset of a fixed token phrase per document, computed with JVM
  higher-order functions on the token array; matches explode to a
  per-doc aggregate (the only shuffle, sized by matches, not corpus).

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
from gtfs_realtime_etl_spark.functions.text import tokens
from gtfs_realtime_etl_spark.plans.base import NS_PER_DAY, NS_PER_HOUR, SQL_TOKS
from gtfs_realtime_etl_spark.sources.testdata import load_testdata


# ---------------------------------------------------------------------------
# skyline_pareto
# ---------------------------------------------------------------------------


def _skyline_prune(df: DataFrame, part_col: str) -> DataFrame:
    """One skyline prune pass within ``part_col`` groups: over DISTINCT
    (price, date) points ordered (price desc, date asc), a point is
    dominated iff ANY preceding point in its group has date ≤ its own
    (preceding ⇒ higher price, or same price with earlier date — either
    way strictly better in one dimension once points are distinct)."""
    w = (
        Window.partitionBy(part_col)
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderdate"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cm = F.min("o_orderdate").over(w)
    return (
        df.withColumn("_cm", cm)
        .filter(F.col("_cm").isNull() | (F.col("_cm") > F.col("o_orderdate")))
        .drop("_cm")
    )


def q_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_testdata(spark, sf_dir, "orders")
    pts = orders.groupBy("o_totalprice", "o_orderdate").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_orderkey").alias("min_orderkey"),
    )
    local = _skyline_prune(
        pts.withColumn("_pid", F.spark_partition_id()), "_pid"
    ).drop("_pid")
    # Global pass: the local survivors are skyline-sized (typically
    # O(log n) for 2 weakly-correlated dimensions), so one partition is
    # the right amount of parallelism — this is a reduce step, not a
    # bottleneck.
    final = _skyline_prune(
        local.repartition(1).withColumn("_g", F.lit(0)), "_g"
    ).drop("_g")
    return final.select("o_totalprice", "o_orderdate", "n_orders", "min_orderkey")


Q_SKYLINE_PARETO_SQL = """
WITH pts AS (
  SELECT o_totalprice, o_orderdate,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         MIN(o_orderkey) AS min_orderkey
  FROM orders GROUP BY 1, 2
)
SELECT o_totalprice, o_orderdate, n_orders, min_orderkey
FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.o_totalprice >= p.o_totalprice
    AND q.o_orderdate <= p.o_orderdate
    AND (q.o_totalprice > p.o_totalprice OR q.o_orderdate < p.o_orderdate)
)
"""


# ---------------------------------------------------------------------------
# feature_mi
# ---------------------------------------------------------------------------
#
# MI(X;Y) = (1/n) Σ_xy c_xy · (log2 c_xy + log2 n − log2 c_x − log2 c_y)
# H(X)    = log2 n − (1/n) Σ_x c_x · log2 c_x
#
# All log terms are quantized to INTEGER MICRO-BITS — floor(log2·1e6 +
# 0.5) as BIGINT — so every accumulation is pure integer arithmetic
# and the output columns are integers: nothing fractional ever crosses
# the engine boundary.  (A DECIMAL(38,12) sum is engine-exact, but its
# final cast to DOUBLE is not — DuckDB's int128→double path and
# Spark's BigDecimal.doubleValue disagree by 1 ulp once the scaled
# value exceeds 2^53; measured max|Δ| 2.9e-11 on the entropy sums.
# Integers sidestep the cast entirely.)  Four separate log terms
# (never log2(c_xy·n)) so no log argument exceeds n; the
# micro-products ride DECIMAL(18,0)×DECIMAL(12,0) so c·lg_micro up to
# ~1e20 at extreme corpus sizes cannot overflow a BIGINT accumulator
# mid-sum.  Consumers divide by n·1e6 for bits.


def _lg_micro_sql(lg_expr: str) -> str:
    return f"CAST(floor(({lg_expr}) * 1000000.0 + 0.5) AS BIGINT)"


def _micro_sum(count_col, micro_col):
    return F.sum(
        count_col.cast("decimal(18,0)") * micro_col.cast("decimal(12,0)")
    ).cast("long")


def _mi_pair(df: DataFrame, x: str, y: str, pair_name: str) -> DataFrame:
    joint = df.groupBy(F.col(x).alias("x"), F.col(y).alias("y")).agg(
        F.count(F.lit(1)).alias("cxy")
    )
    # Integer marginal/window sums over the contingency table (≤ a few
    # hundred rows for categorical columns) — order-independent, exact.
    joint = (
        joint.withColumn("cx", F.sum("cxy").over(Window.partitionBy("x")))
        .withColumn("cy", F.sum("cxy").over(Window.partitionBy("y")))
        .withColumn("n", F.sum("cxy").over(Window.partitionBy()))
    )
    # ONE aggregate over the windowed contingency table computes the MI
    # sum AND both marginal-entropy sums (round-11: the previous
    # three-branch form — mi + separate hx/hy aggregates combined by
    # scalar crossJoins — replayed the joint groupBy's full table scan
    # once PER BRANCH, because DataFrame branches share no common
    # subexpressions; 3 pairs x 3 branches = 9 base-table scans).  The
    # fold is the exact integer identity Σ_xy cxy·lg_micro(cx) =
    # Σ_x cx·lg_micro(cx) (since Σ_y cxy = cx, grouping identical
    # BIGINT terms) — bit-identical output, one scan per pair.
    #
    # The four log terms are computed via the STAGED log2 form
    # (functions/stats.py::portable_int_log2_staged): the inline tree
    # splices its mantissa subtree once per Horner term, and six
    # inlined instances made plan analysis/codegen — not data — the
    # dominant cost of this query (measured ~1.9 s vs 0.4 s for the
    # same aggregate with the log terms removed, on a few-hundred-row
    # contingency table).  Arithmetic is bit-identical.
    # String inputs → the selectExpr fast path (round-12): the Column
    # form of this call built ~15k py4j commands per query — 2.2 s of
    # feature_mi's 3.5 s plan CONSTRUCTION, measured with cProfile —
    # while the parsed form is six round trips.  Bit-identical (grid
    # pin in tests/test_functions.py).
    lgd = portable_int_log2_staged(
        joint, {"la": "cxy", "ln": "n", "lx": "cx", "ly": "cy"}
    )

    def _micro(c: str):
        return F.floor(
            F.col(c) * F.lit(1_000_000.0) + F.lit(0.5)
        ).cast("long")

    mi = lgd.agg(
        F.max("n").alias("n_rows"),
        F.countDistinct("x").alias("k_x"),
        F.countDistinct("y").alias("k_y"),
        _micro_sum(
            F.col("cxy"),
            _micro("la") + _micro("ln") - _micro("lx") - _micro("ly"),
        ).alias("mi_sum_micro"),
        _micro_sum(F.col("cxy"), _micro("lx")).alias("hx_sum_micro"),
        _micro_sum(F.col("cxy"), _micro("ly")).alias("hy_sum_micro"),
    )
    # The n_rows log rides the staged form too (round-12: the last
    # remaining inline Column-Horner instance of this query — ~0.2 s
    # of py4j plan construction per pair).
    return portable_int_log2_staged(mi, {"_lg_n": "n_rows"}).select(
        F.lit(pair_name).alias("pair"),
        "n_rows",
        "k_x",
        "k_y",
        _micro("_lg_n").alias("log2n_micro"),
        "mi_sum_micro",
        "hx_sum_micro",
        "hy_sum_micro",
    )


def q_feature_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, lineitem, events = load_testdata(
        spark, sf_dir, "orders", "lineitem", "events"
    )
    ev = events.select(
        "event_type",
        F.expr(f"(ts % {NS_PER_DAY}) div {NS_PER_HOUR}").alias("hour"),
    )
    return (
        _mi_pair(orders, "o_orderpriority", "o_orderstatus", "priority_status")
        .unionAll(
            _mi_pair(lineitem, "l_returnflag", "l_linestatus", "returnflag_linestatus")
        )
        .unionAll(_mi_pair(ev, "event_type", "hour", "eventtype_hour"))
    )


def _mi_pair_sql(from_clause: str, x: str, y: str, pair_name: str) -> str:
    return f"""
SELECT pair, n_rows, k_x, k_y, log2n_micro, mi_sum_micro, hx_sum_micro,
       hy_sum_micro FROM (
  WITH joint AS (
    SELECT {x} AS x, {y} AS y, CAST(COUNT(*) AS BIGINT) AS cxy
    FROM {from_clause} GROUP BY 1, 2
  ),
  marg AS (
    SELECT x, y, cxy,
           SUM(cxy) OVER (PARTITION BY x) AS cx,
           SUM(cxy) OVER (PARTITION BY y) AS cy,
           SUM(cxy) OVER () AS n
    FROM joint
  ),
  terms AS (
    SELECT x, y, cxy, n,
           {portable_int_log2_sql("cxy", "la")},
           {portable_int_log2_sql("n", "ln")},
           {portable_int_log2_sql("cx", "lx")},
           {portable_int_log2_sql("cy", "ly")}
    FROM marg
  ),
  mi AS (
    -- ONE aggregate computes the MI sum AND both marginal-entropy
    -- sums via the exact identity SUM_xy cxy*lg(cx) = SUM_x cx*lg(cx)
    -- (round-11 single-scan fold; matches the Spark form).
    SELECT CAST(MAX(n) AS BIGINT) AS n_rows,
           COUNT(DISTINCT x) AS k_x, COUNT(DISTINCT y) AS k_y,
           CAST(SUM(CAST(cxy AS DECIMAL(18,0))
               * CAST({_lg_micro_sql("la_lg")} + {_lg_micro_sql("ln_lg")}
                      - {_lg_micro_sql("lx_lg")} - {_lg_micro_sql("ly_lg")}
                      AS DECIMAL(12,0))) AS BIGINT) AS mi_sum_micro,
           CAST(SUM(CAST(cxy AS DECIMAL(18,0))
               * CAST({_lg_micro_sql("lx_lg")} AS DECIMAL(12,0))) AS BIGINT)
           AS hx_sum_micro,
           CAST(SUM(CAST(cxy AS DECIMAL(18,0))
               * CAST({_lg_micro_sql("ly_lg")} AS DECIMAL(12,0))) AS BIGINT)
           AS hy_sum_micro
    FROM terms
  ),
  nn AS (
    SELECT n_rows, {portable_int_log2_sql("n_rows", "lnr")} FROM mi
  )
  SELECT '{pair_name}' AS pair,
         mi.n_rows,
         mi.k_x, mi.k_y,
         {_lg_micro_sql("nn.lnr_lg")} AS log2n_micro,
         mi.mi_sum_micro,
         mi.hx_sum_micro,
         mi.hy_sum_micro
  FROM mi, nn
)
"""


def _feature_mi_sql() -> str:
    ev = (
        f"(SELECT event_type, (epoch_ns(ts) % {NS_PER_DAY}) // {NS_PER_HOUR}"
        " AS hour FROM events)"
    )
    parts = [
        _mi_pair_sql("orders", "o_orderpriority", "o_orderstatus", "priority_status"),
        _mi_pair_sql(
            "lineitem", "l_returnflag", "l_linestatus", "returnflag_linestatus"
        ),
        _mi_pair_sql(ev, "event_type", "hour", "eventtype_hour"),
    ]
    return "\nUNION ALL\n".join(parts)


Q_FEATURE_MI_SQL = _feature_mi_sql()


# ---------------------------------------------------------------------------
# basket_rules
# ---------------------------------------------------------------------------

#: Minimum pair support: rules seen in fewer baskets are noise (and at
#: 100 TB the support filter is what keeps the rule table small).
BASKET_MIN_SUPPORT = 3


def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise association rules over order baskets.

    Plan shape: ONE corpus shuffle — lineitem groups to per-order part
    SETS (collect_set on the order key), and the canonical part pairs
    are generated INSIDE each basket row with higher-order functions
    (indexed transform × suffix slice → flatten), so pair blowup is
    bounded by the basket size the schema itself bounds (a TPC-H order
    holds ≤ 7 lines; an open-world basket column would get the
    MAX_BUCKET cap the dedup family uses).  A naive self-join
    on the order key shuffles the line table twice and rebuilds the
    same pairs from two sorted probes — measured 9 exchanges vs 5 for
    this shape on the same data.  Item frequencies and the basket
    count are catalog-/scalar-sized side outputs (broadcast; the 1-row
    basket total is the SCALAR_BNLJ_OK pattern)."""
    (lineitem,) = load_testdata(spark, sf_dir, "lineitem")
    li = lineitem.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part")
    )
    baskets = li.groupBy("okey").agg(
        F.array_sort(F.collect_set("part")).alias("ps")
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ps"),
            lambda a, i: F.transform(
                F.slice(F.col("ps"), i + F.lit(2), F.size(F.col("ps"))),
                lambda b: F.struct(a.alias("pa"), b.alias("pb")),
            ),
        )
    )
    sup = (
        baskets.select(F.explode(pair_arr).alias("pr"))
        .groupBy(
            F.col("pr.pa").alias("part_a"), F.col("pr.pb").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= BASKET_MIN_SUPPORT)
    )
    # Item frequencies and the basket total both derive from the SAME
    # basket aggregate subplan — Spark turns the repeated subtree into a
    # ReusedExchange, so lineitem is shuffled exactly once for all
    # three statistics (vs separate DISTINCT pipelines re-scanning and
    # re-shuffling the line table per statistic).
    items = (
        baskets.select(F.explode("ps").alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    ca = items.withColumnsRenamed({"part": "part_a", "cnt": "cnt_a"})
    cb = items.withColumnsRenamed({"part": "part_b", "cnt": "cnt_b"})
    out = (
        sup.join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .crossJoin(F.broadcast(n_orders))
    )
    s = F.col("support").cast("double")
    lift = (
        s
        * F.col("n_orders").cast("double")
        / (F.col("cnt_a").cast("double") * F.col("cnt_b").cast("double"))
    )
    return out.select(
        "part_a",
        "part_b",
        "support",
        "cnt_a",
        "cnt_b",
        (F.round((s / F.col("cnt_a").cast("double")) * F.lit(1e6), 0) / F.lit(1e6)).alias("conf_ab"),
        (F.round((s / F.col("cnt_b").cast("double")) * F.lit(1e6), 0) / F.lit(1e6)).alias("conf_ba"),
        (F.round((lift) * F.lit(1e6), 0) / F.lit(1e6)).alias("lift"),
    )


Q_BASKET_RULES_SQL = f"""
WITH li AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem),
sup AS (
  SELECT a.part AS part_a, b.part AS part_b, CAST(COUNT(*) AS BIGINT) AS support
  FROM li a JOIN li b ON a.okey = b.okey AND a.part < b.part
  GROUP BY 1, 2 HAVING COUNT(*) >= {BASKET_MIN_SUPPORT}
),
items AS (SELECT part, CAST(COUNT(*) AS BIGINT) AS cnt FROM li GROUP BY part),
n AS (SELECT CAST(COUNT(DISTINCT okey) AS BIGINT) AS n_orders FROM li)
SELECT part_a, part_b, support,
       ca.cnt AS cnt_a, cb.cnt AS cnt_b,
       ROUND((CAST(support AS DOUBLE) / CAST(ca.cnt AS DOUBLE)) * 1e6, 0) / 1e6 AS conf_ab,
       ROUND((CAST(support AS DOUBLE) / CAST(cb.cnt AS DOUBLE)) * 1e6, 0) / 1e6 AS conf_ba,
       ROUND((CAST(support AS DOUBLE) * CAST(n.n_orders AS DOUBLE)
             / (CAST(ca.cnt AS DOUBLE) * CAST(cb.cnt AS DOUBLE))) * 1e6, 0) / 1e6 AS lift
FROM sup
JOIN items ca ON ca.part = sup.part_a
JOIN items cb ON cb.part = sup.part_b
CROSS JOIN n
"""


# ---------------------------------------------------------------------------
# phrase_search
# ---------------------------------------------------------------------------

#: The fixed lookup phrase (three consecutive tokens; present at every
#: scale factor of the synthetic corpus).
PHRASE = ("slow", "hash", "batch")


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    m = len(PHRASE)
    arr = tokens(F.col("text"))
    d = documents.select("doc_id", "source", arr.alias("t"))
    # 1-based match offsets, computed wholly inside whole-stage codegen:
    # sequence → transform (match test per offset) → filter.  Guarded so
    # short documents never build a reversed sequence (Spark's sequence
    # auto-steps -1 when stop < start).  Spark uses element_at (1-based)
    # — bare ``t[i]`` subscripts are 0-based in Spark but 1-based in
    # DuckDB, so the oracle's ``t[i + j]`` corresponds exactly.
    conds = " AND ".join(
        f"element_at(t, i + {j}) = '{w}'" for j, w in enumerate(PHRASE)
    )
    positions = F.expr(
        f"CASE WHEN size(t) >= {m} THEN "
        f"filter(transform(sequence(1, size(t) - {m - 1}), "
        f"i -> CASE WHEN {conds} THEN i ELSE 0 END), x -> x > 0) "
        f"ELSE CAST(array() AS ARRAY<INT>) END"
    )
    # Explode the per-doc match offsets, then re-aggregate: docs with
    # no match vanish at the generator (no filter to push around).  A
    # filter formulation instead gets PUSHED below the loader's
    # spreading repartition, serializing the whole tokenize+match scan
    # into the source file's single row-group task AND inlining the
    # tokenizer once per phrase term (observed in the physical plan);
    # the generator keeps the expensive projection above the exchange,
    # parallel, with the token array materialized once per row.
    hits = d.select("doc_id", "source", F.explode(positions).alias("p"))
    return hits.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min("p").alias("first_pos"),
    )


def _phrase_search_sql() -> str:
    m = len(PHRASE)
    conds = " AND ".join(f"t[i + {j}] = '{w}'" for j, w in enumerate(PHRASE))
    return f"""
WITH d AS (SELECT doc_id, source, {SQL_TOKS} AS t FROM documents),
hits AS (
  SELECT doc_id, source,
         CASE WHEN len(t) >= {m} THEN
           list_filter(list_transform(range(1, len(t) - {m - 1} + 1),
                                      i -> CASE WHEN {conds} THEN i ELSE 0 END),
                       x -> x > 0)
         ELSE [] END AS pos
  FROM d
)
SELECT doc_id, source,
       CAST(len(pos) AS BIGINT) AS n_matches,
       CAST(pos[1] AS INTEGER) AS first_pos
FROM hits WHERE len(pos) > 0
"""


Q_PHRASE_SEARCH_SQL = _phrase_search_sql()


QUERIES = {
    "skyline_pareto": q_skyline_pareto,
    "feature_mi": q_feature_mi,
    "basket_rules": q_basket_rules,
    "phrase_search": q_phrase_search,
}

ORACLE_SQL = {
    "skyline_pareto": Q_SKYLINE_PARETO_SQL,
    "feature_mi": Q_FEATURE_MI_SQL,
    "basket_rules": Q_BASKET_RULES_SQL,
    "phrase_search": Q_PHRASE_SEARCH_SQL,
}
