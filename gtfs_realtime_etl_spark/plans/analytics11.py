"""Fifteenth query bank: graph reachability, sequential-pattern
mining, score calibration, discrete survival hazards, and ranked-
retrieval NDCG.

- ``graph_bfs`` — multi-source breadth-first search on the undirected
  kNN similarity graph (``plans/graph.py::_knn_edges`` — the SAME
  graph text PageRank / triangle_count / link_prediction verify
  against).  Seeds are every ``vec_id ≡ 0 (mod BFS_SEED_MOD)``;
  ``BFS_ROUNDS`` frontier expansions, each ONE equi-join frontier ⋈
  edges plus one anti-join against the visited set — never more than
  the frontier's neighborhood shuffles per round (the textbook
  distributed-BFS shape; a 100 TB graph pays O(edges touched), not
  O(V²)).  Output: node count per BFS level, plus a ``dist = -1`` row
  for nodes unreachable within the horizon.  Oracle: the
  ``BFS_ROUNDS``-deep unrolled frontier CTE chain.
- ``event_ngrams`` — sequential pattern mining: the top-25 most
  frequent ordered event-type trigrams across per-user event streams.
  ONE user shuffle builds each user's (ts, event_id)-sorted type
  sequence; trigrams are generated IN-ROW by an indexed-transform HOF
  (``element_at`` — 1-based in both engines), exploded, counted.  The
  explicit ``size ≥ 3`` guard dodges Spark's descending
  ``sequence(1, n)`` trap for short sequences (NOTES_r7 lesson).
- ``calibration_bins`` — reliability diagram for the ``l_quantity``
  score against the ``l_returnflag = 'R'`` label (the ``auc_score``
  companion): 10 equal-width score bins, per bin the observed
  positive rate and mean score in exact integer ppm / centi units,
  global base rate as a window sum.  One scan, one ≤10-row group-by.
- ``hazard_table`` — discrete-time hazard table (the Kaplan-Meier
  building block) for order→ship delay in days: per delay ``d`` the
  event count ``d_i``, the risk set ``n_i = Σ_{d' ≥ d} d_{d'}`` (one
  DESCENDING cumulative window — no self-join), and the hazard
  ``d_i·1e6 div n_i`` in exact ppm.  One orderkey equi-join (AQE
  handles the shuffle), one group-by to ~120 delay rows.
- ``ndcg_report`` — NDCG@k of the LSH approximate retrieval against
  the exact cosine top-k (the graded companion to
  ``ann_recall_report``'s set recall): gain 1 for every approximate
  hit that is exact-relevant, discount ``w(r) = ⌊1e6/log2(r+1)+0.5⌋``
  in integer micro-units on the portable log2 (the ``link_prediction``
  reciprocal-log idiom), ideal DCG computed IN-ENGINE over ranks
  1..k with the same expression (never a Python-side transcendental),
  ``ndcg_ppm`` by integer floor-division.  The DCG×IDCG combine is a
  1-row×1-row scalar broadcast cross join (allowlisted in the plan
  guard like the other scalar BNLJs).

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
from gtfs_realtime_etl_spark.plans.base import (
    Q_ANN_COSINE_TOPK_SQL,
    Q_ANN_LSH_TOPK_SQL,
    TOP_K,
    q_ann_cosine_topk,
    q_ann_lsh_topk,
)
from gtfs_realtime_etl_spark.plans.graph import _KNN_CTES, _knn_edges
from gtfs_realtime_etl_spark.sources.testdata import load_testdata


# ---------------------------------------------------------------------------
# graph_bfs
# ---------------------------------------------------------------------------

BFS_ROUNDS = 3
BFS_SEED_MOD = 1_000


def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS level histogram on the kNN graph (module doc).

    The loop is driver-side control flow only — every frontier stays a
    DataFrame; nothing is collected."""
    (embeddings,) = load_testdata(spark, sf_dir, "embeddings")
    e = _knn_edges(embeddings)
    und = (
        e.unionByName(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
        # No distinct: reciprocal kNN edges appear twice, but every
        # frontier expansion dedups with its own distinct — paying a
        # full edge shuffle here would buy nothing.
        # Pin the kNN lineage once: the pair join + top-k window feeds
        # every BFS round (same rationale as link_prediction).
        .localCheckpoint(eager=False)
    )
    nodes = embeddings.select(F.col("vec_id").alias("node")).distinct()
    seeds = nodes.filter(F.col("node") % BFS_SEED_MOD == 0)
    visited = seeds.select("node", F.lit(0).alias("dist"))
    frontier = seeds
    for r in range(1, BFS_ROUNDS + 1):
        nxt = (
            und.join(frontier.select(F.col("node").alias("s")), "s")
            .select(F.col("d").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            # Each frontier feeds two consumers (the visited union and
            # the next round's expansion join) — pin it so round r+1's
            # task graph starts from round r's result, not from the
            # whole history (the pagerank per-round discipline).
            .localCheckpoint(eager=False)
        )
        visited = visited.unionByName(nxt.select("node", F.lit(r).alias("dist")))
        frontier = nxt
    levels = visited.groupBy("dist").agg(F.count(F.lit(1)).alias("n_nodes"))
    unreachable = (
        nodes.join(visited.select("node"), "node", "left_anti")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .select(F.lit(-1).alias("dist"), "n_nodes")
    )
    return levels.unionByName(unreachable).filter(F.col("n_nodes") > 0)


def _graph_bfs_sql() -> str:
    parts = [
        "und AS (SELECT s, d FROM knn UNION SELECT d AS s, s AS d FROM knn)",
        f"v0 AS (SELECT DISTINCT vec_id AS node, 0 AS dist FROM emb"
        f" WHERE vec_id % {BFS_SEED_MOD} = 0)",
    ]
    for r in range(1, BFS_ROUNDS + 1):
        parts.append(
            f"f{r} AS (SELECT DISTINCT u.d AS node"
            f" FROM und u JOIN v{r - 1} v ON u.s = v.node"
            f" WHERE u.d NOT IN (SELECT node FROM v{r - 1}))"
        )
        parts.append(
            f"v{r} AS (SELECT node, dist FROM v{r - 1}"
            f" UNION ALL SELECT node, {r} AS dist FROM f{r})"
        )
    last = f"v{BFS_ROUNDS}"
    joined = ",\n".join(parts)
    return f"""
WITH {_KNN_CTES},
{joined}
SELECT dist, n_nodes FROM (
  SELECT CAST(dist AS INT) AS dist, CAST(COUNT(*) AS BIGINT) AS n_nodes
  FROM {last} GROUP BY 1
  UNION ALL
  SELECT -1 AS dist, CAST(COUNT(*) AS BIGINT) AS n_nodes
  FROM emb WHERE vec_id NOT IN (SELECT node FROM {last})
) WHERE n_nodes > 0
"""


# ---------------------------------------------------------------------------
# event_ngrams
# ---------------------------------------------------------------------------

TRI_TOPK = 25


def q_event_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 ordered event-type trigrams per the module doc."""
    (events,) = load_testdata(spark, sf_dir, "events")
    seqs = (
        events.select("user_id", F.struct("ts", "event_id", "event_type").alias("e"))
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("e")).alias("es"))
        .select(F.expr("transform(es, x -> x.event_type)").alias("arr"))
        .filter(F.size("arr") >= 3)
    )
    tris = seqs.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(arr) - 2), i ->"
                " concat_ws('>', element_at(arr, i),"
                " element_at(arr, i + 1), element_at(arr, i + 2)))"
            )
        ).alias("trigram")
    )
    return (
        tris.groupBy("trigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("trigram"))
        .limit(TRI_TOPK)
    )


Q_EVENT_NGRAMS_SQL = f"""
WITH seqs AS (
  SELECT list(event_type ORDER BY ts, event_id) AS arr
  FROM events GROUP BY user_id
),
tris AS (
  SELECT unnest(list_transform(range(1, len(arr) - 1), i ->
           concat_ws('>', arr[i], arr[i + 1], arr[i + 2]))) AS trigram
  FROM seqs WHERE len(arr) >= 3
)
SELECT trigram, CAST(COUNT(*) AS BIGINT) AS cnt
FROM tris GROUP BY trigram
ORDER BY cnt DESC, trigram ASC LIMIT {TRI_TOPK}
"""


# ---------------------------------------------------------------------------
# calibration_bins
# ---------------------------------------------------------------------------

CAL_BIN_WIDTH = 5


def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins for quantity vs returnflag (module
    doc)."""
    (lineitem,) = load_testdata(spark, sf_dir, "lineitem")
    binned = lineitem.select(
        F.expr(
            f"(cast(floor(l_quantity) as bigint) - 1L) div {CAL_BIN_WIDTH}L"
        ).alias("bin"),
        F.floor("l_quantity").cast("long").alias("s"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("is_pos"),
    )
    g = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("is_pos").alias("pos"),
        F.sum("s").alias("s_sum"),
    )
    return g.select(
        "bin",
        "n",
        "pos",
        F.expr("pos * 1000000L div n").alias("pos_ppm"),
        F.expr("s_sum * 100L div n").alias("mean_score_centi"),
        F.expr(
            "(sum(pos) over () * 1000000L) div sum(n) over ()"
        ).alias("base_ppm"),
    )


Q_CALIBRATION_BINS_SQL = f"""
WITH binned AS (
  SELECT (CAST(FLOOR(l_quantity) AS BIGINT) - 1) // {CAL_BIN_WIDTH} AS bin,
         CAST(FLOOR(l_quantity) AS BIGINT) AS s,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS is_pos
  FROM lineitem
),
g AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(is_pos) AS BIGINT) AS pos,
         CAST(SUM(s) AS BIGINT) AS s_sum
  FROM binned GROUP BY 1
)
SELECT bin, n, pos,
       pos * 1000000 // n AS pos_ppm,
       s_sum * 100 // n AS mean_score_centi,
       CAST(CAST(SUM(pos) OVER () * 1000000 AS BIGINT)
            // SUM(n) OVER () AS BIGINT) AS base_ppm
FROM g
"""


# ---------------------------------------------------------------------------
# hazard_table
# ---------------------------------------------------------------------------


def q_hazard_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time hazard of order→ship delay (module doc)."""
    orders, lineitem = load_testdata(spark, sf_dir, "orders", "lineitem")
    delays = lineitem.select("l_orderkey", "l_shipdate").join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select(
        F.datediff("l_shipdate", "o_orderdate").cast("long").alias("delay")
    )
    g = delays.groupBy("delay").agg(F.count(F.lit(1)).alias("d_i"))
    wrisk = (
        Window.partitionBy()
        .orderBy("delay")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return g.select(
        "delay",
        "d_i",
        F.sum("d_i").over(wrisk).alias("n_i"),
    ).select(
        "delay",
        "d_i",
        "n_i",
        F.expr("d_i * 1000000L div n_i").alias("hazard_ppm"),
        (F.col("n_i") - F.col("d_i")).alias("surviving"),
    )


Q_HAZARD_TABLE_SQL = """
WITH delays AS (
  SELECT date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
           AS delay
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
g AS (
  SELECT CAST(delay AS BIGINT) AS delay, CAST(COUNT(*) AS BIGINT) AS d_i
  FROM delays GROUP BY 1
),
r AS (
  SELECT delay, d_i,
         CAST(SUM(d_i) OVER (ORDER BY delay
                             ROWS BETWEEN CURRENT ROW
                             AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_i
  FROM g
)
SELECT delay, d_i, n_i,
       d_i * 1000000 // n_i AS hazard_ppm,
       n_i - d_i AS surviving
FROM r
"""


# ---------------------------------------------------------------------------
# ndcg_report
# ---------------------------------------------------------------------------


# Discount weight ⌊1e6/log2(r+1)+0.5⌋ over a staged log2 column (the
# link_prediction reciprocal-log idiom).  D-suffixed literals parse via
# Double.parseDouble — bit-identical to the F.lit doubles the Column
# form embedded; floor(double) is BIGINT in both forms.
_W_MICRO_SQL = "CAST(floor(1000000.0D / {lg} + 0.5D) AS BIGINT)"


def q_ndcg_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@k of LSH retrieval vs exact cosine top-k (module doc).

    The two portable-log2 instances are SQL-PARSED through the staged
    fast path (round-12, the feature_mi/decision_stump lesson): same
    arithmetic op for op, a handful of selectExpr parses instead of
    Column-builder py4j chatter."""

    exact = q_ann_cosine_topk(spark, sf_dir).select("vec_id")
    approx = q_ann_lsh_topk(spark, sf_dir).select("vec_id", "rank")
    dcg = (
        portable_int_log2_staged(exact.join(approx, "vec_id"), {"w_lg": "rank + 1"})
        .selectExpr(_W_MICRO_SQL.format(lg="w_lg") + " AS w")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.coalesce(F.sum("w"), F.lit(0)).alias("dcg_micro"),
        )
    )
    ideal = (
        portable_int_log2_staged(spark.range(1, TOP_K + 1), {"w_lg": "id + 1"})
        .selectExpr(_W_MICRO_SQL.format(lg="w_lg") + " AS w")
        .agg(F.sum("w").alias("idcg_micro"))
    )
    return dcg.crossJoin(F.broadcast(ideal)).select(
        F.lit("lsh").alias("method"),
        F.lit(TOP_K).alias("k"),
        "n_hits",
        "dcg_micro",
        "idcg_micro",
        F.expr("dcg_micro * 1000000L div idcg_micro").alias("ndcg_ppm"),
    )


def _ndcg_sql() -> str:
    return f"""
WITH hits AS (
  SELECT ap.rank
  FROM ({Q_ANN_COSINE_TOPK_SQL.strip()}) ex
  JOIN ({Q_ANN_LSH_TOPK_SQL.strip()}) ap ON ex.vec_id = ap.vec_id
),
hw AS (
  SELECT {portable_int_log2_sql("rank + 1", "hr")} FROM hits
),
dcg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_hits,
         COALESCE(CAST(SUM(CAST(floor(1000000.0 / hr_lg + 0.5) AS BIGINT))
                       AS BIGINT), 0) AS dcg_micro
  FROM hw
),
iw AS (
  SELECT {portable_int_log2_sql("r + 1", "ir")}
  FROM (SELECT unnest(range(1, {TOP_K} + 1)) AS r)
),
ideal AS (
  SELECT CAST(SUM(CAST(floor(1000000.0 / ir_lg + 0.5) AS BIGINT)) AS BIGINT)
           AS idcg_micro
  FROM iw
)
SELECT 'lsh' AS method, {TOP_K} AS k, n_hits, dcg_micro, idcg_micro,
       dcg_micro * 1000000 // idcg_micro AS ndcg_ppm
FROM dcg CROSS JOIN ideal
"""


QUERIES = {
    "graph_bfs": q_graph_bfs,
    "event_ngrams": q_event_ngrams,
    "calibration_bins": q_calibration_bins,
    "hazard_table": q_hazard_table,
    "ndcg_report": q_ndcg_report,
}


ORACLE_SQL = {
    "graph_bfs": _graph_bfs_sql(),
    "event_ngrams": Q_EVENT_NGRAMS_SQL,
    "calibration_bins": Q_CALIBRATION_BINS_SQL,
    "hazard_table": Q_HAZARD_TABLE_SQL,
    "ndcg_report": _ndcg_sql(),
}
