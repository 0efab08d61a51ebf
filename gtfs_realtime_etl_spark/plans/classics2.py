"""Eighth query bank: the remaining TPC-H plan classics.

`plans/classics.py` covers the Q2/Q11/Q13-Q18/Q21/Q22 shapes; this
bank completes the sweep with the Q4/Q6/Q7/Q8/Q9/Q12/Q19/Q20 shapes —
each the canonical physical-plan exercise the number is famous for:

- Q4  semi-join EXISTS into a small group-count
- Q6  pure scan-aggregate with every filter pushed to the parquet scan
- Q7  two symmetric dimension snowflakes under one fact join, pair
      filter, multi-key group
- Q8  conditional market-share ratio (CASE inside sum over a
      region-filtered snowflake)
- Q9  part-filtered multi-join profit rollup by (nation, year)
- Q12 conditional counts by category over a date-windowed fact join
- Q19 disjunctive bracket predicate (OR of AND-brackets) — the
      predicate-pushdown stress test
- Q20 nested aggregate HAVING feeding a semi-join

The driver's synthetic tables omit a few TPC-H columns (no partsupp,
l_shipmode, l_commitdate/receiptdate, p_container); where the textbook
query uses one, the adapted predicate keeps the identical PLAN SHAPE
on an available column and the header comment says so.  Money sums are
DECIMAL-accumulated (engine- and partitioning-exact) like every other
revenue aggregate in the registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.plans.base import REVENUE_SQL, revenue
from gtfs_realtime_etl_spark.sources.testdata import load_testdata


# ---------------------------------------------------------------------------
# Q4 shape: order-priority checking.  EXISTS(lineitem shipped after the
# order date — the "late ship" stand-in for l_commitdate<l_receiptdate)
# as a LEFT SEMI join, then a tiny priority group-count.  The semi join
# is the point: no lineitem columns survive, so Spark plans a
# broadcast/shuffled semi that deduplicates on the fly.
# ---------------------------------------------------------------------------

Q4_START, Q4_END = "1996-01-01", "1996-07-01"


def q_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, lineitem = load_testdata(spark, sf_dir, "orders", "lineitem")
    o = orders.where(
        (F.col("o_orderdate") >= Q4_START) & (F.col("o_orderdate") < Q4_END)
    )
    late = o.join(
        lineitem,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q_PRIORITY_CHECK_SQL = f"""
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= '{Q4_START}' AND o_orderdate < '{Q4_END}'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Q6 shape: forecast-revenue change — THE pushdown benchmark: one scan,
# every predicate (date range, discount band, quantity cap) pushed to
# parquet, one global decimal sum.  No join, no window, one row out.
# ---------------------------------------------------------------------------

Q6_YEAR_START, Q6_YEAR_END = "1996-01-01", "1997-01-01"
Q6_DISC_LO, Q6_DISC_HI = 0.03, 0.07
Q6_QTY_CAP = 24


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = load_testdata(spark, sf_dir, "lineitem")
    disc_rev = F.col("l_extendedprice").cast("decimal(18,2)") * F.col(
        "l_discount"
    ).cast("decimal(18,2)")
    return (
        lineitem.where(
            (F.col("l_shipdate") >= Q6_YEAR_START)
            & (F.col("l_shipdate") < Q6_YEAR_END)
            & F.col("l_discount").between(Q6_DISC_LO, Q6_DISC_HI)
            & (F.col("l_quantity") < Q6_QTY_CAP)
        )
        .agg(F.sum(disc_rev).cast("double").alias("revenue"))
    )


Q_FORECAST_REVENUE_SQL = f"""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= '{Q6_YEAR_START}' AND l_shipdate < '{Q6_YEAR_END}'
  AND l_discount BETWEEN {Q6_DISC_LO} AND {Q6_DISC_HI}
  AND l_quantity < {Q6_QTY_CAP}
"""


# ---------------------------------------------------------------------------
# Q7 shape: volume shipping between two nations.  Two symmetric
# dimension snowflakes (supplier→nation, orders→customer→nation) hang
# off one lineitem fact; the nation-pair disjunction filters after the
# joins; group by (supp_nation, cust_nation, year).  All dimension
# joins broadcast; the only real shuffle is lineitem⋈orders and the
# final group.
# ---------------------------------------------------------------------------

Q7_NATION_A, Q7_NATION_B = "NATION_1", "NATION_2"


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, orders, customer, supplier, nation = load_testdata(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation"
    )
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    df = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .where(
            (
                (F.col("supp_nation") == Q7_NATION_A)
                & (F.col("cust_nation") == Q7_NATION_B)
            )
            | (
                (F.col("supp_nation") == Q7_NATION_B)
                & (F.col("cust_nation") == Q7_NATION_A)
            )
        )
    )
    return (
        df.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.sum(revenue()).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q_VOLUME_SHIPPING_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(volume) AS DOUBLE) AS revenue
FROM (
  SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
         {REVENUE_SQL} AS volume
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  WHERE (sn.n_name = '{Q7_NATION_A}' AND cn.n_name = '{Q7_NATION_B}')
     OR (sn.n_name = '{Q7_NATION_B}' AND cn.n_name = '{Q7_NATION_A}')
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


# ---------------------------------------------------------------------------
# Q8 shape: national market share.  Region-filtered customer snowflake,
# part-type filter on the fact, and the signature conditional ratio:
# share(year) = Σ(volume WHERE supp_nation = X) / Σ(volume).  Both sums
# decimal; ONE division at the end (per year) in double, rounded — the
# exact-rational discipline used across the registry.
# ---------------------------------------------------------------------------

Q8_REGION = "ASIA"
Q8_TYPE = "STANDARD"
Q8_NATION = "NATION_3"


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, orders, customer, supplier, nation, region, part = load_testdata(
        spark, sf_dir,
        "lineitem", "orders", "customer", "supplier", "nation", "region", "part",
    )
    cust_side = (
        customer.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.where(F.col("r_name") == Q8_REGION)),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        ).select("c_custkey")
    )
    supp_nation = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    df = (
        lineitem.join(
            F.broadcast(part.where(F.col("p_type") == Q8_TYPE)),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust_side), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("s_nk"))
    )
    vol = revenue()
    by_year = df.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.sum(F.when(F.col("supp_nation") == Q8_NATION, vol)).alias("nat"),
        F.sum(vol).alias("tot"),
    )
    share = (F.round((F.coalesce(F.col("nat"), F.lit(0)).cast("double")
        / F.col("tot").cast("double")) * F.lit(1e6), 0) / F.lit(1e6))
    return by_year.select("o_year", share.alias("mkt_share")).orderBy("o_year")


Q_MARKET_SHARE_SQL = f"""
WITH vols AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
         {REVENUE_SQL} AS volume,
         sn.n_name AS supp_nation
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey AND p_type = '{Q8_TYPE}'
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region   ON cn.n_regionkey = r_regionkey AND r_name = '{Q8_REGION}'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
)
SELECT o_year,
       ROUND((CAST(COALESCE(SUM(CASE WHEN supp_nation = '{Q8_NATION}'
                                    THEN volume END), 0) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE)) * 1e6, 0) / 1e6 AS mkt_share
FROM vols
GROUP BY o_year
ORDER BY o_year
"""


# ---------------------------------------------------------------------------
# Q9 shape: product-type profit.  Part-name pattern filter feeds a
# multi-join profit rollup by (supplier nation, year).  (TPC-H subtracts
# ps_supplycost; the synthetic tables have no partsupp, so profit here
# is the revenue term — the join tree and rollup are the shape.)
# ---------------------------------------------------------------------------

Q9_PATTERN = "%red%"


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, supplier, nation, part = load_testdata(
        spark, sf_dir, "lineitem", "supplier", "nation", "part"
    )
    df = (
        lineitem.join(
            F.broadcast(part.where(F.col("p_name").like(Q9_PATTERN))),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return (
        df.groupBy(
            F.col("n_name").alias("nation"), F.year("l_shipdate").alias("o_year")
        )
        .agg(F.sum(revenue()).cast("double").alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


Q_PRODUCT_PROFIT_SQL = f"""
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS o_year,
       CAST(SUM({REVENUE_SQL}) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey AND p_name LIKE '{Q9_PATTERN}'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY n_name, o_year
ORDER BY n_name, o_year DESC
"""


# ---------------------------------------------------------------------------
# Q12 shape: shipping-priority classification.  Date-windowed fact join
# with the signature conditional counts (CASE inside SUM) by category —
# l_linestatus stands in for the absent l_shipmode; identical plan.
# ---------------------------------------------------------------------------

Q12_START, Q12_END = "1996-01-01", "1997-01-01"
Q12_HIGH = ("1-URGENT", "2-HIGH")


def q_priority_shipmode(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, orders = load_testdata(spark, sf_dir, "lineitem", "orders")
    df = lineitem.where(
        (F.col("l_shipdate") >= Q12_START) & (F.col("l_shipdate") < Q12_END)
    ).join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    high = F.col("o_orderpriority").isin(*Q12_HIGH).cast("long")
    return (
        df.groupBy("l_linestatus")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(F.lit(1) - high).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


Q_PRIORITY_SHIPMODE_SQL = f"""
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('{Q12_HIGH[0]}', '{Q12_HIGH[1]}')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('{Q12_HIGH[0]}', '{Q12_HIGH[1]}')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= '{Q12_START}' AND l_shipdate < '{Q12_END}'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


# ---------------------------------------------------------------------------
# Q19 shape: discounted revenue under a DISJUNCTION of AND-brackets —
# the predicate-pushdown stress test: Catalyst must push the common
# equi-join key while keeping the OR-of-ANDs as a residual it can still
# use for parquet row-group skipping on (p_brand, p_size, l_quantity).
# (p_container is absent; p_size brackets replace it.)
# ---------------------------------------------------------------------------

Q19_BRACKETS = (
    ("Brand#1", 1, 10, 1, 11),
    ("Brand#2", 1, 20, 10, 20),
    ("Brand#3", 1, 30, 20, 30),
)


def q_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part = load_testdata(spark, sf_dir, "lineitem", "part")
    df = lineitem.join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    )
    pred = None
    for brand, slo, shi, qlo, qhi in Q19_BRACKETS:
        b = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(slo, shi)
            & F.col("l_quantity").between(qlo, qhi)
        )
        pred = b if pred is None else (pred | b)
    return df.where(pred).agg(F.sum(revenue()).cast("double").alias("revenue"))


def _q19_sql() -> str:
    brackets = " OR ".join(
        f"(p_brand = '{b}' AND p_size BETWEEN {slo} AND {shi} "
        f"AND l_quantity BETWEEN {qlo} AND {qhi})"
        for b, slo, shi, qlo, qhi in Q19_BRACKETS
    )
    return f"""
SELECT CAST(SUM({REVENUE_SQL}) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE {brackets}
"""


Q_BRACKET_REVENUE_SQL = _q19_sql()


# ---------------------------------------------------------------------------
# Q20 shape: potential part promotion.  The nested aggregate: per
# (supplier, part) shipped quantity of pattern-named parts in a year,
# HAVING over the aggregate, then a LEFT SEMI join up to suppliers —
# the aggregate-feeds-semi-join pipeline.
# ---------------------------------------------------------------------------

Q20_PATTERN = "small%"
Q20_START, Q20_END = "1997-01-01", "1998-01-01"
Q20_QTY = 45.0


def q_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, supplier, part = load_testdata(
        spark, sf_dir, "lineitem", "supplier", "part"
    )
    shipped = (
        lineitem.where(
            (F.col("l_shipdate") >= Q20_START) & (F.col("l_shipdate") < Q20_END)
        )
        .join(
            F.broadcast(part.where(F.col("p_name").like(Q20_PATTERN))),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > Q20_QTY)
    )
    return (
        supplier.join(
            shipped, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_name")
    )


Q_PROMO_SUPPLIERS_SQL = f"""
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_name LIKE '{Q20_PATTERN}'
  WHERE l_shipdate >= '{Q20_START}' AND l_shipdate < '{Q20_END}'
  GROUP BY l_suppkey, l_partkey
  HAVING SUM(l_quantity) > {Q20_QTY}
)
ORDER BY s_name
"""


QUERIES = {
    "priority_check": q_priority_check,
    "forecast_revenue": q_forecast_revenue,
    "volume_shipping": q_volume_shipping,
    "market_share": q_market_share,
    "product_profit": q_product_profit,
    "priority_shipmode": q_priority_shipmode,
    "bracket_revenue": q_bracket_revenue,
    "promo_suppliers": q_promo_suppliers,
}

ORACLE_SQL = {
    "priority_check": Q_PRIORITY_CHECK_SQL,
    "forecast_revenue": Q_FORECAST_REVENUE_SQL,
    "volume_shipping": Q_VOLUME_SHIPPING_SQL,
    "market_share": Q_MARKET_SHARE_SQL,
    "product_profit": Q_PRODUCT_PROFIT_SQL,
    "priority_shipmode": Q_PRIORITY_SHIPMODE_SQL,
    "bracket_revenue": Q_BRACKET_REVENUE_SQL,
    "promo_suppliers": Q_PROMO_SUPPLIERS_SQL,
}
