"""Fourth bank of oracle-gated queries: TPC-H plan classics adapted to
this star schema.  Each one exists for its PHYSICAL PLAN SHAPE — the
relational patterns a warehouse engine must get right at scale — not
for the business question:

- ``min_cost_supplier``  (Q2)  decorrelated scalar subquery: per-group
  MIN built once, broadcast back into the fact scan;
- ``order_count_distribution`` (Q13) left-outer join preserving
  zero-count groups + two-level aggregation;
- ``small_qty_revenue``  (Q17) correlated AVG threshold decorrelated
  into a broadcast per-part aggregate;
- ``large_orders``       (Q18) HAVING on a fact-side aggregate, then
  semi-style join back through orders/customer;
- ``waiting_supplier``   (Q21) EXISTS + NOT EXISTS self-joins with a
  non-equi residual (the hardest classic to plan);
- ``idle_customers``     (Q22) scalar-subquery threshold + anti join;
- ``top_supplier``       (Q15) aggregate → global MAX scalar →
  equality join back (exact because the sums are decimal);
- ``supplier_part_counts`` (Q16) NOT-IN-subquery exclusion + COUNT
  DISTINCT over a multi-key group;
- ``important_parts``    (Q11) HAVING against a scalar fraction of the
  global total;
- ``promo_share``        (Q14) conditional-aggregate ratio in one pass.

Cross-engine determinism rules are the same as the other banks
(``plans.base`` docstring): DECIMAL(18,2) sums for anything
accumulated, IEEE-double division only on identically-computed
operands, integer tie-breaks on every ORDER BY/LIMIT cut, and
aggregate aliases identical between the DataFrame and the oracle SQL.

Scale notes (100 TB): every "subquery" here is decorrelated into an
aggregate that is dimension-sized (per-part / per-supplier / scalar)
and broadcast — the fact table is scanned once per query, never
re-scanned per row.  The Q21 semi/anti pair is the one shape that
keeps two fact-sized inputs: both sides are pre-projected to
(orderkey, suppkey) before the shuffle so the exchange carries two
ints per row, and the join keys are the natural orderkey partitioning
— co-bucketing lineitem by orderkey at rest (``bucketBy``) would
remove both exchanges.

Reference scope: the reference engine (smohiudd/gtfs-realtime-etl)
delegates ad-hoc analytics of this shape to its notebook SQL layer
(notebooks/schedule_deviation.ipynb); this bank is the Spark-first
equivalent surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.operators.asof import asof_join
from gtfs_realtime_etl_spark.plans.base import NS_PER_DAY, REVENUE_SQL, revenue
from gtfs_realtime_etl_spark.sources.testdata import load_testdata


# ---------------------------------------------------------------------------
# Q2 shape — min-cost supplier per part.  The schema has no partsupp,
# so lineitem is the part↔supplier relation and unit cost is
# l_extendedprice / l_quantity (IEEE double division of identical
# operands — bit-exact across engines).  The correlated "WHERE cost =
# (SELECT MIN(cost) ... WHERE partkey = p_partkey)" decorrelates into
# a per-part MIN aggregate joined back; the aggregate is |part|-sized
# (dimension class), so it is broadcast into the fact scan.  Supplier
# ties on the exact min break on MIN(s_suppkey).
# ---------------------------------------------------------------------------

Q2_TYPE = "SMALL"
Q2_MAX_SIZE = 10


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    part, supplier, lineitem = load_testdata(
        spark, sf_dir, "part", "supplier", "lineitem"
    )
    small_parts = part.filter(
        (F.col("p_type") == Q2_TYPE) & (F.col("p_size") <= Q2_MAX_SIZE)
    )
    offers = (
        lineitem.join(
            F.broadcast(small_parts.select("p_partkey", "p_name")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(
            "p_partkey",
            "p_name",
            "l_suppkey",
            (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"),
        )
    )
    mins = offers.groupBy(F.col("p_partkey").alias("m_partkey")).agg(
        F.min("unit_cost").alias("min_cost")
    )
    return (
        offers.join(
            F.broadcast(mins),
            (F.col("p_partkey") == F.col("m_partkey"))
            & (F.col("unit_cost") == F.col("min_cost")),
        )
        .groupBy("p_partkey", "p_name", "min_cost")
        .agg(F.min("l_suppkey").alias("best_suppkey"))
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            F.col("best_suppkey") == F.col("s_suppkey"),
        )
        .select("p_partkey", "p_name", "min_cost", "best_suppkey", "s_name")
        .orderBy("p_partkey")
    )


Q_MIN_COST_SUPPLIER_SQL = f"""
WITH offers AS (
  SELECT p_partkey, p_name, l_suppkey,
         l_extendedprice / l_quantity AS unit_cost
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_type = '{Q2_TYPE}' AND p_size <= {Q2_MAX_SIZE}
),
mins AS (
  SELECT p_partkey AS m_partkey, MIN(unit_cost) AS min_cost
  FROM offers GROUP BY p_partkey
),
best AS (
  SELECT o.p_partkey, o.p_name, m.min_cost,
         MIN(o.l_suppkey) AS best_suppkey
  FROM offers o
  JOIN mins m ON o.p_partkey = m.m_partkey AND o.unit_cost = m.min_cost
  GROUP BY o.p_partkey, o.p_name, m.min_cost
)
SELECT p_partkey, p_name, min_cost, best_suppkey, s_name
FROM best JOIN supplier ON best_suppkey = s_suppkey
ORDER BY p_partkey
"""


# ---------------------------------------------------------------------------
# Q13 shape — customer order-count distribution.  The left outer join
# is load-bearing: customers with zero matching orders must survive
# with c_count = 0 (an inner join silently drops the most interesting
# bucket).  Two-level aggregation: count per customer, then histogram
# of counts.  Orders are filtered on a priority predicate so the
# zero bucket is non-empty.  All-integer output — engine-exact.
# Scale: shuffle on o_custkey (fact), then a tiny shuffle on c_count.
# ---------------------------------------------------------------------------

Q13_EXCLUDE_PRIORITY = "1-URGENT"


def q_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders = load_testdata(spark, sf_dir, "customer", "orders")
    per_cust = (
        customer.join(
            orders.filter(F.col("o_orderpriority") != Q13_EXCLUDE_PRIORITY),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q_ORDER_COUNT_DISTRIBUTION_SQL = f"""
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer
  LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '{Q13_EXCLUDE_PRIORITY}'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# ---------------------------------------------------------------------------
# Q17 shape — revenue from unusually-small-quantity lines.  The
# correlated "l_quantity < 0.2 * (SELECT AVG(l_quantity) WHERE same
# part)" decorrelates into a per-part average joined back — exactly
# how Catalyst decorrelates a correlated scalar subquery.  The
# average is DECIMAL-sum / COUNT so both engines divide identical
# operands (l_quantity is integral-valued; the decimal sum is exact).
# Scale: the per-part aggregate is |part|-sized → broadcast.  The
# fact IS scanned twice (once for the averages, once for the filter),
# both scans pruned to three columns; the alternative — a window AVG
# over l_partkey — is one scan but a FULL shuffle of the filtered
# fact, the right trade only when scan bandwidth, not shuffle, is the
# bottleneck.
# ---------------------------------------------------------------------------

Q17_TYPE = "SMALL"
Q17_FRACTION = 0.2


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    part, lineitem = load_testdata(spark, sf_dir, "part", "lineitem")
    small = part.filter(F.col("p_type") == Q17_TYPE).select("p_partkey")
    li = lineitem.join(
        F.broadcast(small), F.col("l_partkey") == F.col("p_partkey")
    )
    avgs = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_qty")
    )
    return (
        li.join(F.broadcast(avgs), F.col("l_partkey") == F.col("a_partkey"))
        .filter(F.col("l_quantity") < F.lit(Q17_FRACTION) * F.col("avg_qty"))
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("small_qty_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q_SMALL_QTY_REVENUE_SQL = f"""
WITH li AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_type = '{Q17_TYPE}'
),
avgs AS (
  SELECT l_partkey AS a_partkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
           / COUNT(*) AS avg_qty
  FROM li GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS small_qty_revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM li JOIN avgs ON l_partkey = a_partkey
WHERE l_quantity < {Q17_FRACTION} * avg_qty
"""


# ---------------------------------------------------------------------------
# Q18 shape — large-volume orders.  HAVING on a fact-side aggregate
# (per-order quantity sum, DECIMAL-exact), then join the surviving
# keys back through orders + customer.  The surviving set is tiny →
# broadcast into both dimension joins.  Final global ORDER BY + LIMIT
# plans as TakeOrderedAndProject; ties break on the integer orderkey.
# ---------------------------------------------------------------------------

Q18_MIN_QTY = 300


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders, lineitem = load_testdata(
        spark, sf_dir, "customer", "orders", "lineitem"
    )
    big = (
        lineitem.groupBy(F.col("l_orderkey").alias("b_orderkey"))
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty")
        )
        .filter(F.col("sum_qty") > Q18_MIN_QTY)
    )
    return (
        orders.join(F.broadcast(big), F.col("o_orderkey") == F.col("b_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


Q_LARGE_ORDERS_SQL = f"""
WITH big AS (
  SELECT l_orderkey AS b_orderkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > {Q18_MIN_QTY}
)
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       o_totalprice, sum_qty
FROM orders
JOIN big ON o_orderkey = b_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""


# ---------------------------------------------------------------------------
# Q21 shape — suppliers who kept others waiting.  A "late" line ships
# more than 60 days after the order date (this schema has no
# commit/receipt dates).  For finalized orders: count, per supplier,
# the late lines where SOME other supplier contributed to the order
# (EXISTS → left-semi with a non-equi residual l2.supp <> l1.supp)
# but NO other supplier was late on it (NOT EXISTS → left-anti).
# Both join sides are pre-projected to two ints before the shuffle;
# the keys are the natural orderkey partitioning, so co-bucketing
# lineitem by orderkey removes the exchanges at rest.
# ---------------------------------------------------------------------------

Q21_LATE_DAYS = 60


def q_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier, orders, lineitem = load_testdata(
        spark, sf_dir, "supplier", "orders", "lineitem"
    )
    final_orders = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
    late = (
        li.join(final_orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {Q21_LATE_DAYS} DAYS")
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    others = li.select(
        F.col("l_orderkey").alias("o2_orderkey"),
        F.col("l_suppkey").alias("o2_suppkey"),
    )
    late_others = late.select(
        F.col("l_orderkey").alias("o3_orderkey"),
        F.col("l_suppkey").alias("o3_suppkey"),
    )
    waiting = (
        late.join(
            others,
            (F.col("o2_orderkey") == F.col("l_orderkey"))
            & (F.col("o2_suppkey") != F.col("l_suppkey")),
            "left_semi",
        )
        .join(
            late_others,
            (F.col("o3_orderkey") == F.col("l_orderkey"))
            & (F.col("o3_suppkey") != F.col("l_suppkey")),
            "left_anti",
        )
    )
    return (
        waiting.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_suppkey"))
    )


Q_WAITING_SUPPLIER_SQL = f"""
WITH late AS (
  SELECT DISTINCT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
    AND l_shipdate > o_orderdate + INTERVAL {Q21_LATE_DAYS} DAY
),
waiting AS (
  SELECT l1.l_orderkey, l1.l_suppkey
  FROM late l1
  WHERE EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey
        AND l2.l_suppkey <> l1.l_suppkey
    )
    AND NOT EXISTS (
      SELECT 1 FROM late l3
      WHERE l3.l_orderkey = l1.l_orderkey
        AND l3.l_suppkey <> l1.l_suppkey
    )
)
SELECT s_suppkey, s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM waiting JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_suppkey ASC
"""


# ---------------------------------------------------------------------------
# Q22 shape — well-funded customers gone idle.  Scalar subquery (the
# positive-balance average, DECIMAL-sum / count so both engines divide
# identical operands) becomes a 1-row broadcast; "no recent orders"
# is a left-anti join against the date-filtered fact.  Grouped by
# market segment.
# ---------------------------------------------------------------------------

Q22_IDLE_SINCE = "2000-01-01"


def q_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders = load_testdata(spark, sf_dir, "customer", "orders")
    avg_bal = customer.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    recent = orders.filter(F.col("o_orderdate") >= Q22_IDLE_SINCE).select(
        "o_custkey"
    )
    return (
        customer.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


Q_IDLE_CUSTOMERS_SQL = f"""
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_custs,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM customer
WHERE c_acctbal > (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
    FROM customer WHERE c_acctbal > 0
  )
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderdate >= '{Q22_IDLE_SINCE}'
  )
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# Q15 shape — top supplier(s) by quarterly revenue.  Per-supplier
# DECIMAL revenue sums, global MAX as a 1-row broadcast, equality join
# back.  The equality on revenue is exact because both sides are the
# same decimal sum; ties (several suppliers at the max) all survive,
# ordered by the integer key.
# ---------------------------------------------------------------------------

Q15_START = "1998-01-01"
Q15_END = "1998-04-01"


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier, lineitem = load_testdata(spark, sf_dir, "supplier", "lineitem")
    rev = (
        lineitem.filter(
            (F.col("l_shipdate") >= Q15_START) & (F.col("l_shipdate") < Q15_END)
        )
        .groupBy("l_suppkey")
        .agg(F.sum(revenue()).alias("total_rev_dec"))
    )
    max_rev = rev.agg(F.max("total_rev_dec").alias("max_rev_dec"))
    return (
        rev.crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_rev_dec") == F.col("max_rev_dec"))
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev_dec").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


Q_TOP_SUPPLIER_SQL = f"""
WITH rev AS (
  SELECT l_suppkey, SUM({REVENUE_SQL}) AS total_rev_dec
  FROM lineitem
  WHERE l_shipdate >= '{Q15_START}' AND l_shipdate < '{Q15_END}'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_rev_dec AS DOUBLE) AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev_dec = (SELECT MAX(total_rev_dec) FROM rev)
ORDER BY s_suppkey
"""


# ---------------------------------------------------------------------------
# Q16 shape — supplier diversity per part group, excluding a
# NOT-IN-subquery set (suppliers in arrears).  The exclusion list is
# tiny → broadcast left-anti; COUNT(DISTINCT) over the (brand, size)
# group is the two-shuffle distinct-aggregate plan.
# ---------------------------------------------------------------------------

def q_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part, supplier, lineitem = load_testdata(
        spark, sf_dir, "part", "supplier", "lineitem"
    )
    excluded = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        lineitem.join(
            F.broadcast(excluded),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(
            F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_size"))
    )


Q_SUPPLIER_PART_COUNTS_SQL = """
SELECT p_brand, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE NOT EXISTS (
  SELECT 1 FROM supplier
  WHERE s_suppkey = l_suppkey AND s_acctbal < 0
)
GROUP BY p_brand, p_size
ORDER BY supplier_cnt DESC, p_brand ASC, p_size ASC
"""


# ---------------------------------------------------------------------------
# Q11 shape — parts whose traded value exceeds a scalar threshold
# derived from the global aggregate.  TPC-H's fixed fraction of the
# total empties out as |part| grows (each share shrinks ~1/|part| —
# TPC-H itself rescales the fraction by 1/SF), so the threshold here
# is scale-invariant: 1.3x the MEAN part value (the synthetic
# corpus's per-part values are near-uniform — max/mean is ~1.8 at
# every sf, so 1.3x keeps a stable few-percent tail at any scale).
# Both the per-part sums and the global mean are the SAME decimal
# aggregate, so the HAVING comparison is between identically-derived
# doubles.  The static plan evaluates the per-part lineage twice (the
# mean branch and the filter branch — both column-pruned); Spark's
# exchange reuse can dedup them at runtime, and a production caller
# pinning the cost materializes the dimension-sized per-part table
# once and derives both from it.
# ---------------------------------------------------------------------------

Q11_MEAN_MULTIPLE = 1.3


def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = load_testdata(spark, sf_dir, "lineitem")
    per_part = lineitem.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("val_dec")
    )
    mean = per_part.agg(
        (F.sum("val_dec").cast("double") / F.count(F.lit(1))).alias("mean_val")
    )
    return (
        per_part.crossJoin(F.broadcast(mean))
        .filter(
            F.col("val_dec").cast("double")
            > Q11_MEAN_MULTIPLE * F.col("mean_val")
        )
        .select(
            "l_partkey", F.col("val_dec").cast("double").alias("part_value")
        )
        .orderBy(F.desc("part_value"), F.asc("l_partkey"))
    )


Q_IMPORTANT_PARTS_SQL = f"""
WITH pv AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS val_dec
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, CAST(val_dec AS DOUBLE) AS part_value
FROM pv
WHERE CAST(val_dec AS DOUBLE) >
      {Q11_MEAN_MULTIPLE} * (SELECT CAST(SUM(val_dec) AS DOUBLE) / COUNT(*)
                             FROM pv)
ORDER BY part_value DESC, l_partkey ASC
"""


# ---------------------------------------------------------------------------
# Q14 shape — promo revenue share: conditional aggregate ratio in ONE
# fact pass (no self-join, no second scan).  Both sums are DECIMAL;
# the final ratio is one double division of identical operands.
# ---------------------------------------------------------------------------

Q14_MONTH_START = "1997-06-01"
Q14_MONTH_END = "1997-07-01"


def q_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    part, lineitem = load_testdata(spark, sf_dir, "part", "lineitem")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= Q14_MONTH_START)
            & (F.col("l_shipdate") < Q14_MONTH_END)
        )
        .join(
            F.broadcast(part.select("p_partkey", "p_type")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", revenue()).otherwise(F.lit(0).cast("decimal(18,2)")))
            .alias("promo_dec"),
            F.sum(revenue()).alias("total_dec"),
        )
        .select(
            (
                F.lit(100.0)
                * F.col("promo_dec").cast("double")
                / F.col("total_dec").cast("double")
            ).alias("promo_share_pct"),
            F.col("promo_dec").cast("double").alias("promo_revenue"),
            F.col("total_dec").cast("double").alias("total_revenue"),
        )
    )


Q_PROMO_SHARE_SQL = f"""
SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {REVENUE_SQL}
                             ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM({REVENUE_SQL}) AS DOUBLE) AS promo_share_pct,
       CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {REVENUE_SQL}
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         AS promo_revenue,
       CAST(SUM({REVENUE_SQL}) AS DOUBLE) AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= '{Q14_MONTH_START}' AND l_shipdate < '{Q14_MONTH_END}'
"""


# ---------------------------------------------------------------------------
# Referential-integrity audit — the warehouse maintenance query every
# lake needs after ingest: orphan counts for each FK relationship, via
# LEFT ANTI joins (dimension key sets broadcast; the lineitem→orders
# check is honestly fact-vs-fact and shuffles on the orderkey).  One
# row per relationship, all-integer.  A clean lake reports zeros —
# that IS the audit's answer, not a degenerate case.
# ---------------------------------------------------------------------------

def q_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, supplier, part, orders, lineitem = load_testdata(
        spark, sf_dir, "customer", "supplier", "part", "orders", "lineitem"
    )

    def orphans(fact, fk, dim, pk, rel):
        missing = fact.join(
            dim.select(pk), F.col(fk) == F.col(pk), "left_anti"
        )
        return missing.agg(
            F.lit(rel).alias("relationship"),
            F.count(F.lit(1)).alias("n_orphans"),
        )

    checks = [
        orphans(lineitem, "l_orderkey", orders, "o_orderkey", "lineitem->orders"),
        orphans(lineitem, "l_partkey", part, "p_partkey", "lineitem->part"),
        orphans(
            lineitem, "l_suppkey", supplier, "s_suppkey", "lineitem->supplier"
        ),
        orphans(orders, "o_custkey", customer, "c_custkey", "orders->customer"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out


Q_FK_INTEGRITY_SQL = """
SELECT 'lineitem->orders' AS relationship, CAST(COUNT(*) AS BIGINT) AS n_orphans
FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
UNION ALL
SELECT 'lineitem->part', CAST(COUNT(*) AS BIGINT)
FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey)
UNION ALL
SELECT 'lineitem->supplier', CAST(COUNT(*) AS BIGINT)
FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey)
UNION ALL
SELECT 'orders->customer', CAST(COUNT(*) AS BIGINT)
FROM orders WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
"""


# ---------------------------------------------------------------------------
# SCD2 validity intervals from a change log — change-log compaction:
# collapse each user's consecutive duplicate states, then emit one row
# per surviving state with [valid_from, valid_to) in epoch ns
# (valid_to NULL for the current state).  Two windows over ONE
# partitioning (user_id) — Spark plans a single sort + exchange for
# both lag and lead.  All-integer event-time math; deterministic
# (ts, event_id) order.
# ---------------------------------------------------------------------------

def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        events.select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        changes.select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from_ns"),
            F.lead("ts").over(w2).alias("valid_to_ns"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_states"),
            F.min("valid_from_ns").alias("first_from_ns"),
            F.sum(
                F.when(F.col("valid_to_ns").isNull(), 0).otherwise(
                    F.col("valid_to_ns") - F.col("valid_from_ns")
                )
            ).alias("closed_duration_ns"),
        )
    )


Q_SCD2_INTERVALS_SQL = """
WITH e AS (
  SELECT user_id, epoch_ns(ts) AS tns, event_id, event_type FROM events
),
changes AS (
  SELECT user_id, event_type, tns, event_id FROM (
    SELECT user_id, event_type, tns, event_id,
           LAG(event_type) OVER (PARTITION BY user_id
                                 ORDER BY tns, event_id) AS prev_type
    FROM e
  ) WHERE prev_type IS NULL OR event_type <> prev_type
),
intervals AS (
  SELECT user_id, event_type AS state, tns AS valid_from_ns,
         LEAD(tns) OVER (PARTITION BY user_id
                         ORDER BY tns, event_id) AS valid_to_ns
  FROM changes
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_states,
       MIN(valid_from_ns) AS first_from_ns,
       CAST(SUM(CASE WHEN valid_to_ns IS NULL THEN 0
                     ELSE valid_to_ns - valid_from_ns END) AS BIGINT)
         AS closed_duration_ns
FROM intervals
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Period reconciliation — FULL OUTER join of two per-customer revenue
# aggregates (1997 H1 vs H2).  The one standard join shape the
# registry lacked: full outer CANNOT broadcast (both sides must
# surface their unmatched rows), so it is the canonical shuffle
# sort-merge join — both aggregates already hash-partition on
# custkey, so the join reuses that partitioning.  Segment counts +
# decimal-exact deltas, integer/decimal math only.
# ---------------------------------------------------------------------------

RECON_P1_START, RECON_P1_END = "1997-01-01", "1997-07-01"
RECON_P2_START, RECON_P2_END = "1997-07-01", "1998-01-01"


def q_period_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, lineitem = load_testdata(spark, sf_dir, "orders", "lineitem")
    li = lineitem.join(
        orders.select("o_orderkey", "o_custkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )

    def period(start, end, out):
        return (
            li.filter(
                (F.col("o_orderdate") >= start) & (F.col("o_orderdate") < end)
            )
            .groupBy(F.col("o_custkey").alias(f"{out}_custkey"))
            .agg(F.sum(revenue()).alias(f"{out}_rev_dec"))
        )

    h1 = period(RECON_P1_START, RECON_P1_END, "h1")
    h2 = period(RECON_P2_START, RECON_P2_END, "h2")
    joined = h1.join(
        h2, F.col("h1_custkey") == F.col("h2_custkey"), "full_outer"
    )
    segment = (
        F.when(F.col("h2_custkey").isNull(), "h1_only")
        .when(F.col("h1_custkey").isNull(), "h2_only")
        .otherwise("both")
    )
    zero = F.lit(0).cast("decimal(28,2)")
    return (
        joined.select(
            segment.alias("segment"),
            F.coalesce(F.col("h1_rev_dec"), zero).alias("h1d"),
            F.coalesce(F.col("h2_rev_dec"), zero).alias("h2d"),
        )
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("h1d").cast("double").alias("h1_revenue"),
            F.sum("h2d").cast("double").alias("h2_revenue"),
            F.sum(F.col("h2d") - F.col("h1d")).cast("double").alias("delta"),
        )
        .orderBy("segment")
    )


Q_PERIOD_RECONCILIATION_SQL = f"""
WITH li AS (
  SELECT o_custkey, o_orderdate, {REVENUE_SQL} AS rev
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
h1 AS (
  SELECT o_custkey AS h1_custkey, SUM(rev) AS h1_rev_dec FROM li
  WHERE o_orderdate >= '{RECON_P1_START}' AND o_orderdate < '{RECON_P1_END}'
  GROUP BY o_custkey
),
h2 AS (
  SELECT o_custkey AS h2_custkey, SUM(rev) AS h2_rev_dec FROM li
  WHERE o_orderdate >= '{RECON_P2_START}' AND o_orderdate < '{RECON_P2_END}'
  GROUP BY o_custkey
)
SELECT CASE WHEN h2_custkey IS NULL THEN 'h1_only'
            WHEN h1_custkey IS NULL THEN 'h2_only'
            ELSE 'both' END AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(COALESCE(h1_rev_dec, CAST(0 AS DECIMAL(28,2)))) AS DOUBLE)
         AS h1_revenue,
       CAST(SUM(COALESCE(h2_rev_dec, CAST(0 AS DECIMAL(28,2)))) AS DOUBLE)
         AS h2_revenue,
       CAST(SUM(COALESCE(h2_rev_dec, CAST(0 AS DECIMAL(28,2)))
                - COALESCE(h1_rev_dec, CAST(0 AS DECIMAL(28,2)))) AS DOUBLE)
         AS delta
FROM h1 FULL OUTER JOIN h2 ON h1_custkey = h2_custkey
GROUP BY segment
ORDER BY segment
"""


# ---------------------------------------------------------------------------
# Point-in-time state lookup — the feature-store temporal-correctness
# op: attribute each purchase to the user's state (last non-purchase
# event type) AS OF the purchase instant, never to a later state
# (leakage).  Spark side is the union-carry-forward as-of join
# (operators/asof.py — ONE shuffle of |probe|+|state| rows, no
# candidate-pair blowup); the oracle is DuckDB's native ASOF JOIN.
# The state table is pre-deduped to one row per (user, instant) with
# a MAX(event_id) tie-break, so both engines' as-of pick is
# deterministic even under timestamp collisions.
# ---------------------------------------------------------------------------

def q_point_in_time_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    states = (
        events.filter(F.col("event_type") != "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max(F.struct("event_id", "event_type"))["event_type"].alias(
                "state"
            )
        )
    )
    joined = asof_join(purchases, states, on="user_id", direction="backward")
    return (
        joined.select(
            F.coalesce(F.col("state"), F.lit("none")).alias("state"),
            "purchase_value",
            (F.col("ts") - F.col("ts_right")).alias("gap_ns"),
        )
        .groupBy("state")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.col("purchase_value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
            F.sum(F.coalesce(F.col("gap_ns"), F.lit(0))).alias("total_gap_ns"),
        )
        .orderBy("state")
    )


Q_POINT_IN_TIME_STATE_SQL = """
WITH p AS (
  SELECT user_id, epoch_ns(ts) AS tns, value AS purchase_value
  FROM events WHERE event_type = 'purchase'
),
s AS (
  SELECT user_id, epoch_ns(ts) AS tns,
         arg_max(event_type, event_id) AS state
  FROM events WHERE event_type <> 'purchase'
  GROUP BY user_id, epoch_ns(ts)
)
SELECT COALESCE(s.state, 'none') AS state,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(CAST(p.purchase_value AS DECIMAL(18,2))) AS DOUBLE)
         AS total_value,
       CAST(SUM(COALESCE(p.tns - s.tns, 0)) AS BIGINT) AS total_gap_ns
FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.tns >= s.tns
GROUP BY COALESCE(s.state, 'none')
ORDER BY state
"""


# ---------------------------------------------------------------------------
# Explicit GROUPING SETS + GROUPING() id — the third member of the
# multi-granularity aggregation family next to the registry's ROLLUP
# (rollup_revenue) and CUBE (cube_revenue): an ARBITRARY set list
# ((year, priority), (year), (priority), ()) that neither rollup nor
# cube expresses, with the standard grouping-id bit vector
# disambiguating which NULLs mean "aggregated away".  One Expand + one
# shuffle, same cost class as rollup; decimal-exact sums.
# ---------------------------------------------------------------------------

def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_testdata(spark, sf_dir, "orders")
    o = orders.select(
        F.year("o_orderdate").alias("order_year"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
    )
    return (
        o.groupingSets(
            [
                [F.col("order_year"), F.col("priority")],
                [F.col("order_year")],
                [F.col("priority")],
                [],
            ],
            F.col("order_year"),
            F.col("priority"),
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("p").cast("double").alias("total_price"),
        )
        .select("order_year", "priority", "gid", "n_orders", "total_price")
    )


Q_GROUPING_SETS_REVENUE_SQL = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
       o_orderpriority AS priority,
       CAST(GROUPING(CAST(year(o_orderdate) AS INTEGER), o_orderpriority)
            AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS total_price
FROM orders
GROUP BY GROUPING SETS (
  (CAST(year(o_orderdate) AS INTEGER), o_orderpriority),
  (CAST(year(o_orderdate) AS INTEGER)),
  (o_orderpriority),
  ()
)
"""


# ---------------------------------------------------------------------------
# Gaps-and-islands — the classic consecutive-run detection: per user,
# maximal runs of consecutive activity DAYS, via the day − ROW_NUMBER
# trick (consecutive days share a constant difference, so the
# difference IS the island key — no self-join, no recursion).  Two
# aggregations and one window, all on the same user_id partitioning;
# all-integer epoch-day math.
# ---------------------------------------------------------------------------


def q_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    days = (
        events.select(
            "user_id", F.expr(f"ts div {NS_PER_DAY}").alias("day")
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.select(
        "user_id",
        "day",
        (F.col("day") - F.row_number().over(w)).alias("island"),
    )
    per_island = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("run_len"),
        F.min("day").alias("run_start_day"),
    )
    return per_island.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.max("run_len").alias("longest_run"),
        F.sum("run_len").alias("active_days"),
        F.min("run_start_day").alias("first_day"),
    )


Q_ACTIVITY_ISLANDS_SQL = f"""
WITH days AS (
  SELECT DISTINCT user_id,
         epoch_ns(ts) // {NS_PER_DAY} AS day
  FROM events
),
islands AS (
  SELECT user_id, day,
         day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
           AS island
  FROM days
),
per_island AS (
  SELECT user_id, island,
         CAST(COUNT(*) AS BIGINT) AS run_len,
         MIN(day) AS run_start_day
  FROM islands GROUP BY user_id, island
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_islands,
       MAX(run_len) AS longest_run,
       CAST(SUM(run_len) AS BIGINT) AS active_days,
       MIN(run_start_day) AS first_day
FROM per_island
GROUP BY user_id
"""


QUERIES = {
    "min_cost_supplier": q_min_cost_supplier,
    "order_count_distribution": q_order_count_distribution,
    "small_qty_revenue": q_small_qty_revenue,
    "large_orders": q_large_orders,
    "waiting_supplier": q_waiting_supplier,
    "idle_customers": q_idle_customers,
    "top_supplier": q_top_supplier,
    "supplier_part_counts": q_supplier_part_counts,
    "important_parts": q_important_parts,
    "promo_share": q_promo_share,
    "fk_integrity": q_fk_integrity,
    "scd2_intervals": q_scd2_intervals,
    "period_reconciliation": q_period_reconciliation,
    "point_in_time_state": q_point_in_time_state,
    "grouping_sets_revenue": q_grouping_sets_revenue,
    "activity_islands": q_activity_islands,
}

ORACLE_SQL = {
    "min_cost_supplier": Q_MIN_COST_SUPPLIER_SQL,
    "order_count_distribution": Q_ORDER_COUNT_DISTRIBUTION_SQL,
    "small_qty_revenue": Q_SMALL_QTY_REVENUE_SQL,
    "large_orders": Q_LARGE_ORDERS_SQL,
    "waiting_supplier": Q_WAITING_SUPPLIER_SQL,
    "idle_customers": Q_IDLE_CUSTOMERS_SQL,
    "top_supplier": Q_TOP_SUPPLIER_SQL,
    "supplier_part_counts": Q_SUPPLIER_PART_COUNTS_SQL,
    "important_parts": Q_IMPORTANT_PARTS_SQL,
    "promo_share": Q_PROMO_SHARE_SQL,
    "fk_integrity": Q_FK_INTEGRITY_SQL,
    "scd2_intervals": Q_SCD2_INTERVALS_SQL,
    "period_reconciliation": Q_PERIOD_RECONCILIATION_SQL,
    "point_in_time_state": Q_POINT_IN_TIME_STATE_SQL,
    "grouping_sets_revenue": Q_GROUPING_SETS_REVENUE_SQL,
    "activity_islands": Q_ACTIVITY_ISLANDS_SQL,
}
