"""Twelfth query bank: distribution-drift statistics (two-sample KS,
PSI), kNN-graph link prediction, and Johnson-Lindenstrauss random
projection.

- ``ks_drift`` — the two-sample Kolmogorov-Smirnov statistic between
  the first and second half of the event month, per event type.  The
  whole computation is INTEGER-EXACT: with per-period cumulative
  counts ``cum1``/``cum2`` and totals ``n1``/``n2``, the KS distance
  is ``max |cum1·n2 − cum2·n1| / (n1·n2)`` — numerator and the final
  floor-division to micro-units never touch a float, so the statistic
  hashes bit-identically across engines (the ``feature_mi``
  discipline, with plain integers instead of micro-bit logs).  Plan
  shape: one (type, value) group shuffle, one windowed cumulative sum
  per type — the ECDF never materializes per-row ranks.
- ``psi_drift`` — Population Stability Index of the order-price
  distribution across two date periods over fixed-width price bins.
  Per-bin contribution ``(p−q)·log2(p/q)`` is lifted by ``n1·n2`` to
  the integer form ``(c1·n2 − c2·n1) · Δlg_micro`` with the four log
  terms in integer micro-bits (portable log2), so every sum is exact;
  bins empty on either side are reported with a NULL contribution and
  an ``included`` flag instead of being silently smoothed.
- ``link_prediction`` — common-neighbor and Adamic-Adar scores over
  the undirected kNN similarity graph, for node pairs NOT already
  joined by an edge (the candidate-edge mining step of graph-based
  retrieval).  Wedges are generated INSIDE each adjacency row with
  higher-order functions (the ``basket_rules`` pattern) from a
  deterministically capped neighbor list, so the pair blowup is
  bounded by ``deg²`` with ``deg ≤ LP_MAX_NBRS`` — never
  corpus-quadratic; existing edges leave via one anti-join.  The
  Adamic-Adar reciprocal-log weight rides as an integer micro-unit
  (``floor(1e6 / log2(deg) + 0.5)`` on engine-identical doubles).
- ``random_projection`` — a signed (±1) Johnson-Lindenstrauss
  projection of the 64-dim embeddings to ``RP_DIMS`` dimensions,
  the classic cheap pre-step before ANN indexing at 100 TB (project
  once, index the short vectors).  The sign matrix is a deterministic
  md5-derived literal (no RNG — replayable), and each output
  coordinate is a DECIMAL-exact sum of ``±x_i`` terms, so the result
  is independent of partitioning and engine (the
  ``embedding_covariance`` discipline).  Plan shape: explode to
  (row, dim, out-dim) with map-side partial aggregation — network
  traffic is tasks × (rows·RP_DIMS) partials, one shuffle.

Reference scope note: the reference (smohiudd/gtfs-realtime-etl) has
no analytics surface of this kind; these are driver-mandated
LLM-pipeline / warehouse extensions (SURVEY.md §7 step 7).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.functions.exprs import lit_double_matrix
from gtfs_realtime_etl_spark.functions.stats import (
    micro_bits,
    portable_int_log2_sql,
    portable_int_log2_staged,
)
from gtfs_realtime_etl_spark.plans.analytics7 import _lg_micro_sql
from gtfs_realtime_etl_spark.plans.graph import _KNN_CTES, _knn_edges
from gtfs_realtime_etl_spark.sources.testdata import load_testdata


_DEC = "decimal(30,12)"


# ---------------------------------------------------------------------------
# ks_drift
# ---------------------------------------------------------------------------

#: Period boundary: events before 2024-01-16T00:00 (epoch ns, tz-free)
#: are period 1, the rest period 2 — the month's two halves.
KS_SPLIT_NS = 1_705_363_200_000_000_000


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact two-sample KS per event type (see module doc).

    ``d_num = max |cum1·n2 − cum2·n1|`` and ``ks_micro = ⌊d_num·1e6 /
    (n1·n2)⌋`` are BIGINT-safe while ``n1·n2 < 2^63`` (~3·10⁹ rows per
    side per type); past that, lift the products to DECIMAL — the
    arithmetic is unchanged."""
    (events,) = load_testdata(spark, sf_dir, "events")
    ev = events.select(
        "event_type",
        "value",
        F.when(F.col("ts") < KS_SPLIT_NS, F.lit(1)).otherwise(F.lit(2)).alias("p"),
    )
    g = ev.groupBy("event_type", "value").agg(
        F.sum(F.when(F.col("p") == 1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("p") == 2, 1).otherwise(0)).alias("c2"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("event_type")
    c = g.select(
        "event_type",
        F.sum("c1").over(wcum).alias("cum1"),
        F.sum("c2").over(wcum).alias("cum2"),
        F.sum("c1").over(wtot).alias("n1"),
        F.sum("c2").over(wtot).alias("n2"),
    )
    d = F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
    return (
        c.groupBy("event_type")
        .agg(
            F.max("n1").alias("n1"),
            F.max("n2").alias("n2"),
            F.max(d).alias("d_num"),
        )
        .select(
            "event_type",
            "n1",
            "n2",
            "d_num",
            F.expr("d_num * 1000000L div (n1 * n2)").alias("ks_micro"),
        )
    )


Q_KS_DRIFT_SQL = f"""
WITH ev AS (
  SELECT event_type, value,
         CASE WHEN epoch_ns(ts) < {KS_SPLIT_NS} THEN 1 ELSE 2 END AS p
  FROM events
),
g AS (
  SELECT event_type, value,
         SUM(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS c1,
         SUM(CASE WHEN p = 2 THEN 1 ELSE 0 END) AS c2
  FROM ev GROUP BY 1, 2
),
c AS (
  SELECT event_type,
         SUM(c1) OVER (PARTITION BY event_type ORDER BY value
                       ROWS UNBOUNDED PRECEDING) AS cum1,
         SUM(c2) OVER (PARTITION BY event_type ORDER BY value
                       ROWS UNBOUNDED PRECEDING) AS cum2,
         SUM(c1) OVER (PARTITION BY event_type) AS n1,
         SUM(c2) OVER (PARTITION BY event_type) AS n2
  FROM g
)
SELECT event_type,
       CAST(MAX(n1) AS BIGINT) AS n1,
       CAST(MAX(n2) AS BIGINT) AS n2,
       CAST(MAX(ABS(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_num,
       CAST(MAX(ABS(cum1 * n2 - cum2 * n1)) * 1000000
            // (MAX(n1) * MAX(n2)) AS BIGINT) AS ks_micro
FROM c GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# psi_drift
# ---------------------------------------------------------------------------

#: Fixed-width price bins (deterministic — no data-dependent quantile
#: edges to disagree on) and the period boundary date.
PSI_BIN_WIDTH = 25_000
PSI_MAX_BIN = 19
PSI_SPLIT_DATE = "1995-06-01"


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bin PSI contributions, scaled integer-exact (module doc).

    ``psi_contrib_scaled = (c1·n2 − c2·n1)·Δlg_micro``; consumers
    recover PSI bits as ``Σ contrib / (n1·n2·1e6)``.  The products
    ride DECIMAL so a 100 TB corpus cannot overflow mid-sum; the
    per-bin output column is the exact integer.

    Round-12: the four log2 instances ride
    ``portable_int_log2_staged`` (bit-identical, grid-pinned) instead
    of inlined Column-Horner chains — the inline form cost ~0.6 s of
    py4j plan construction per build AND pushed the final projection
    past janino's 64 KB method limit (interpreted-fallback ERROR in
    the logs); the staged form's named intermediates keep the
    projection small enough to stay in codegen."""
    (orders,) = load_testdata(spark, sf_dir, "orders")
    binned = orders.select(
        F.least(
            F.floor(F.col("o_totalprice") / PSI_BIN_WIDTH), F.lit(PSI_MAX_BIN)
        )
        .cast("int")
        .alias("bin"),
        F.when(F.col("o_orderdate") < PSI_SPLIT_DATE, F.lit(1))
        .otherwise(F.lit(2))
        .alias("p"),
    )
    g = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("p") == 1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("p") == 2, 1).otherwise(0)).alias("c2"),
    )
    wtot = Window.partitionBy()
    g = g.withColumn("n1", F.sum("c1").over(wtot)).withColumn(
        "n2", F.sum("c2").over(wtot)
    )
    # Logs on GREATEST(c, 1) keep the expression total; the CASE guard
    # decides inclusion (bins empty on either side carry NULL).
    g = portable_int_log2_staged(
        g,
        {
            "_lg_c1": "greatest(c1, 1)",
            "_lg_n2": "n2",
            "_lg_c2": "greatest(c2, 1)",
            "_lg_n1": "n1",
        },
    )

    dl = (
        micro_bits(F.col("_lg_c1"))
        + micro_bits(F.col("_lg_n2"))
        - micro_bits(F.col("_lg_c2"))
        - micro_bits(F.col("_lg_n1"))
    )
    diff = F.col("c1").cast("decimal(20,0)") * F.col("n2").cast(
        "decimal(20,0)"
    ) - F.col("c2").cast("decimal(20,0)") * F.col("n1").cast("decimal(20,0)")
    included = (F.col("c1") > 0) & (F.col("c2") > 0)
    return g.select(
        "bin",
        "c1",
        "c2",
        "n1",
        "n2",
        included.alias("included"),
        F.when(included, (diff * dl.cast("decimal(12,0)")).cast("long"))
        .otherwise(F.lit(None).cast("long"))
        .alias("psi_contrib_scaled"),
    )


Q_PSI_DRIFT_SQL = f"""
WITH b AS (
  SELECT CAST(LEAST(FLOOR(o_totalprice / {PSI_BIN_WIDTH}), {PSI_MAX_BIN}) AS INTEGER) AS bin,
         CASE WHEN o_orderdate < '{PSI_SPLIT_DATE}' THEN 1 ELSE 2 END AS p
  FROM orders
),
g AS (
  SELECT bin,
         CAST(SUM(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN p = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM b GROUP BY bin
),
t AS (
  SELECT bin, c1, c2,
         CAST(SUM(c1) OVER () AS BIGINT) AS n1,
         CAST(SUM(c2) OVER () AS BIGINT) AS n2
  FROM g
),
lg AS (
  SELECT bin, c1, c2, n1, n2,
         {portable_int_log2_sql("GREATEST(c1, 1)", "l1")},
         {portable_int_log2_sql("GREATEST(c2, 1)", "l2")},
         {portable_int_log2_sql("n1", "ln1")},
         {portable_int_log2_sql("n2", "ln2")}
  FROM t
)
SELECT bin, c1, c2, n1, n2,
       (c1 > 0 AND c2 > 0) AS included,
       CASE WHEN c1 > 0 AND c2 > 0 THEN
         CAST((CAST(c1 AS DECIMAL(20,0)) * CAST(n2 AS DECIMAL(20,0))
               - CAST(c2 AS DECIMAL(20,0)) * CAST(n1 AS DECIMAL(20,0)))
              * CAST({_lg_micro_sql("l1_lg")} + {_lg_micro_sql("ln2_lg")}
                     - {_lg_micro_sql("l2_lg")} - {_lg_micro_sql("ln1_lg")}
                     AS DECIMAL(12,0)) AS BIGINT)
       ELSE NULL END AS psi_contrib_scaled
FROM lg
"""


# ---------------------------------------------------------------------------
# link_prediction
# ---------------------------------------------------------------------------

#: Deterministic neighbor-list cap (smallest ids survive, like every
#: capped bucket in the dedup family) and the minimum common-neighbor
#: support that bounds the candidate output.
LP_MAX_NBRS = 64
LP_MIN_CN = 2


def link_candidates(und: DataFrame) -> DataFrame:
    """Common-neighbor / Adamic-Adar candidates from a canonical
    undirected edge table ``(lo, hi)`` with ``lo < hi``.  The capped
    in-row wedge generation is the whole scale story: a 10⁶-degree hub
    contributes at most C(LP_MAX_NBRS, 2) wedges, not deg²."""
    adj = (
        und.select(F.col("lo").alias("node"), F.col("hi").alias("nbr"))
        .unionAll(und.select(F.col("hi").alias("node"), F.col("lo").alias("nbr")))
        .groupBy("node")
        .agg(
            F.slice(
                F.array_sort(F.collect_set("nbr")), 1, LP_MAX_NBRS
            ).alias("nbrs")
        )
        .filter(F.size("nbrs") >= 2)
    )
    # Adamic-Adar weight of this wedge center, in integer micro-units.
    # deg >= 2 here, so log2(deg) >= 1 and the reciprocal is in (0, 1].
    # The log2 is SQL-parsed via the staged fast path (round-12, the
    # feature_mi/decision_stump lesson) — a handful of selectExpr parses
    # instead of py4j Column-API chatter; floor(double) is BIGINT in
    # both engines.
    adj = portable_int_log2_staged(adj, {"deg_lg": "size(nbrs)"})
    recip = F.expr("CAST(floor(1000000.0D / deg_lg + 0.5D) AS BIGINT)")
    pair_arr = F.flatten(
        F.transform(
            F.col("nbrs"),
            lambda a, i: F.transform(
                F.slice(F.col("nbrs"), i + F.lit(2), F.size(F.col("nbrs"))),
                lambda b: F.struct(a.alias("pa"), b.alias("pb")),
            ),
        )
    )
    wedges = adj.select(recip.alias("recip"), F.explode(pair_arr).alias("pr"))
    scored = (
        wedges.groupBy(
            F.col("pr.pa").alias("node_a"), F.col("pr.pb").alias("node_b")
        )
        .agg(
            F.count(F.lit(1)).alias("cn"),
            F.sum("recip").alias("aa_micro"),
        )
        .filter(F.col("cn") >= LP_MIN_CN)
    )
    return scored.join(
        und,
        (scored.node_a == und.lo) & (scored.node_b == und.hi),
        "left_anti",
    )


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    (embeddings,) = load_testdata(spark, sf_dir, "embeddings")
    und = (
        _knn_edges(embeddings)
        .select(F.least("s", "d").alias("lo"), F.greatest("s", "d").alias("hi"))
        .distinct()
        # The kNN lineage (pair join + top-k window) feeds both the
        # adjacency build and the final anti-join; pin it once.
        .localCheckpoint(eager=False)
    )
    return link_candidates(und)


Q_LINK_PREDICTION_SQL = f"""
WITH {_KNN_CTES},
und AS (
  SELECT LEAST(s, d) AS lo, GREATEST(s, d) AS hi FROM knn GROUP BY 1, 2
),
adj0 AS (
  SELECT lo AS node, hi AS nbr FROM und
  UNION ALL SELECT hi AS node, lo AS nbr FROM und
),
capped AS (
  SELECT node, nbr FROM (
    SELECT node, nbr,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY nbr) AS rn
    FROM adj0
  ) WHERE rn <= {LP_MAX_NBRS}
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM capped GROUP BY node
),
recip AS (
  SELECT node,
         CAST(floor(1000000.0 / dg_lg + 0.5) AS BIGINT) AS recip
  FROM (SELECT node, {portable_int_log2_sql("deg", "dg")} FROM deg
        WHERE deg >= 2)
),
wedges AS (
  SELECT a.nbr AS node_a, b.nbr AS node_b, a.node AS center
  FROM capped a JOIN capped b ON a.node = b.node AND a.nbr < b.nbr
),
scored AS (
  SELECT node_a, node_b,
         CAST(COUNT(*) AS BIGINT) AS cn,
         CAST(SUM(r.recip) AS BIGINT) AS aa_micro
  FROM wedges w JOIN recip r ON r.node = w.center
  GROUP BY 1, 2
  HAVING COUNT(*) >= {LP_MIN_CN}
)
SELECT s.node_a, s.node_b, s.cn, s.aa_micro
FROM scored s
WHERE NOT EXISTS (
  SELECT 1 FROM und WHERE und.lo = s.node_a AND und.hi = s.node_b
)
"""


# ---------------------------------------------------------------------------
# random_projection
# ---------------------------------------------------------------------------

RP_DIMS = 16
RP_IN_DIMS = 64
RP_ROUND = 8


def _rp_signs() -> list[list[int]]:
    """Deterministic ±1 sign matrix [RP_DIMS][RP_IN_DIMS] from md5 —
    no RNG state, identical on every run and in the oracle literal."""
    return [
        [
            1 if hashlib.md5(f"rp:{j}:{i}".encode()).digest()[0] % 2 == 0 else -1
            for i in range(RP_IN_DIMS)
        ]
        for j in range(RP_DIMS)
    ]


RP_SIGNS = _rp_signs()


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    (emb,) = load_testdata(spark, sf_dir, "embeddings")
    signs_lit = lit_double_matrix(RP_SIGNS)
    x = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i0", "x"),
    )
    xj = x.select(
        "vec_id",
        "i0",
        "x",
        F.explode(F.sequence(F.lit(0), F.lit(RP_DIMS - 1))).alias("j"),
    )
    # ±1 multiply is an EXACT double op; the decimal cast then makes the
    # sum order- and engine-independent (embedding_covariance pattern).
    prod = F.col("x") * F.element_at(
        F.element_at(signs_lit, F.col("j") + 1), F.col("i0") + 1
    )
    return (
        xj.groupBy("vec_id", "j")
        .agg(F.sum(prod.cast(_DEC)).alias("s"))
        .select(
            "vec_id",
            "j",
            (F.round((F.col("s").cast("double")) * F.lit(float(10 ** RP_ROUND)), 0) / F.lit(float(10 ** RP_ROUND))).alias("p"),
        )
    )


def _rp_signs_sql() -> str:
    rows = ", ".join(
        "[" + ", ".join(f"{s}.0" for s in row) + "]" for row in RP_SIGNS
    )
    return f"[{rows}]"


Q_RANDOM_PROJECTION_SQL = f"""
WITH sj AS (SELECT {_rp_signs_sql()} AS m),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
x AS (
  SELECT vec_id, pos AS i, v[pos] AS x
  FROM (SELECT vec_id, v, unnest(range(1, len(v) + 1)) AS pos FROM e)
),
js AS (SELECT unnest(range(0, {RP_DIMS})) AS j)
SELECT vec_id, CAST(j AS INTEGER) AS j,
       ROUND((CAST(SUM(CAST(x * m[j + 1][i] AS DECIMAL(30,12))) AS DOUBLE)) * 1e{RP_ROUND}, 0) / 1e{RP_ROUND} AS p
FROM x CROSS JOIN js CROSS JOIN sj
GROUP BY vec_id, j
"""


QUERIES = {
    "ks_drift": q_ks_drift,
    "psi_drift": q_psi_drift,
    "link_prediction": q_link_prediction,
    "random_projection": q_random_projection,
}

ORACLE_SQL = {
    "ks_drift": Q_KS_DRIFT_SQL,
    "psi_drift": Q_PSI_DRIFT_SQL,
    "link_prediction": Q_LINK_PREDICTION_SQL,
    "random_projection": Q_RANDOM_PROJECTION_SQL,
}
