"""Fourteenth query bank: statistical testing and scoring — ROC AUC,
chi-square independence, Benford first-digit audit, lagged
autocorrelation, and diagonal-Mahalanobis embedding outliers.

All five follow the bank doctrine: every corpus-sized stage is one
scan + one group shuffle, and nothing fractional crosses the engine
boundary unless it is IEEE-deterministic by construction.

- ``auc_score`` — ROC AUC of the ``l_quantity`` score against the
  ``l_returnflag = 'R'`` label per ``l_linestatus``, via the
  Mann-Whitney U statistic with exact tie handling, INTEGER end to
  end: with per-score positives ``p_s`` and negatives ``n_s`` and the
  cumulative negatives strictly below ``s``, ``U2 = Σ_s p_s·(2·cumneg_
  below + n_s)`` (ties count half, hence the 2× lift) and
  ``auc_ppm = U2·1e6 div (2·P·N)``.  One group-by to ≤50 score bins
  per group, one windowed cumulative sum.  ``U2`` terms ride
  DECIMAL(38,0) so a 100 TB corpus cannot overflow mid-sum.
- ``chi2_independence`` — Pearson chi-square test of independence for
  the (o_orderpriority × o_orderstatus) contingency table.  Cell
  contribution ``(N·o − r·c)²·1e6 div (N·r·c)`` in integer micro
  units; the squared difference rides DECIMAL(38,0) (it exceeds int64
  already at sf0.1: (1e10)² ≈ 1e20).  One group shuffle to ≤15 cells,
  row/column/grand totals by three windows over the cell frame.
- ``benford_digits`` — first-significant-digit distribution of
  ``o_totalprice`` against Benford's law.  The price is lifted to
  exact integer cents (``floor(p·100 + 0.5)`` — the double input is
  identical in both engines), the leading digit comes from a literal
  power-of-ten CASE cascade (pure integer compares — no log, no
  string), and the Benford expectation is a PYTHON-side literal ppm
  table shared by query and oracle (no engine transcendentals).
  ``tvd_ppm`` (total variation distance) rides as a window sum.
- ``autocorrelation`` — lag-1/2/3 autocorrelation of the daily event
  count series per event type.  One (type, day) group shuffle, ONE
  window pass computing all three leads, an unpivot via a 3-element
  struct array, then per-(type, lag) BIGINT-exact moment sums; the
  final Pearson r is computed on doubles cast from those exact
  integers with identical expression order in both engines (int→
  double is exact below 2^53; sqrt is IEEE-correctly-rounded), so the
  rounded output is deterministic.  BIGINT-safe while daily counts
  stay below ~3e9 per (type, day); lift the moment sums to DECIMAL
  past that (arithmetic unchanged).
- ``mahalanobis_outliers`` — top-20 embedding outliers by
  diagonal-covariance Mahalanobis distance, INTEGER-EXACT end to end:
  coordinates are quantized once to micro units (``floor(x·1e6+0.5)``
  on the exact float→double widening), per-dim sums ``Sx, Sxx`` are
  BIGINT-exact, and each dimension's standardized term is
  ``(x_q·n − Sx)²·1e6 div (n·Sxx − Sx²)`` with the square and the
  variance lifted to DECIMAL(38,0) (both ≈ 6e21 at sf0.1).  The
  per-vector distance is an integer sum over dims — no
  float-accumulation-order hazard — and the top-20 is a
  TakeOrderedAndProject on (d2_micro DESC, vec_id).  Plan: one
  explode scan → 64-row broadcast stats join → one vec_id group
  shuffle → global top-k.  All integer divisions in this bank have
  positive operands, so Spark ``div`` (truncate) and DuckDB ``//``
  (floor) agree.

Reference scope note: the reference (smohiudd/gtfs-realtime-etl) has
no analytics surface of this kind; these are driver-mandated
LLM-pipeline / warehouse extensions (SURVEY.md §7 step 7).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.plans.base import NS_PER_DAY
from gtfs_realtime_etl_spark.sources.testdata import load_testdata


_D38 = "decimal(38,0)"


# ---------------------------------------------------------------------------
# auc_score
# ---------------------------------------------------------------------------


def q_auc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney ROC AUC with exact tie handling (module doc)."""
    (lineitem,) = load_testdata(spark, sf_dir, "lineitem")
    bins = (
        lineitem.select(
            "l_linestatus",
            F.floor("l_quantity").cast("long").alias("s"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("is_pos"),
        )
        .groupBy("l_linestatus", "s")
        .agg(
            F.sum("is_pos").alias("p_s"),
            F.sum(F.lit(1) - F.col("is_pos")).alias("n_s"),
        )
    )
    wcum = (
        Window.partitionBy("l_linestatus")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = bins.select(
        "l_linestatus",
        "p_s",
        "n_s",
        (F.sum("n_s").over(wcum) - F.col("n_s")).alias("neg_below"),
    )
    # Per-score U term, lifted 2× for half-credit ties; DECIMAL(38,0)
    # so the sum cannot overflow at any corpus size.
    term = (
        F.col("p_s").cast(_D38)
        * (F.lit(2).cast(_D38) * F.col("neg_below").cast(_D38) + F.col("n_s").cast(_D38))
    )
    agg = c.groupBy("l_linestatus").agg(
        F.sum("p_s").alias("n_pos"),
        F.sum("n_s").alias("n_neg"),
        F.sum(term).alias("u2d"),
    )
    return agg.select(
        "l_linestatus",
        "n_pos",
        "n_neg",
        F.col("u2d").cast("long").alias("u2"),
        F.expr(
            "u2d * 1000000L div (2L * cast(n_pos as decimal(38,0))"
            " * cast(n_neg as decimal(38,0)))"
        ).alias("auc_ppm"),
    )


Q_AUC_SCORE_SQL = """
WITH bins AS (
  SELECT l_linestatus, CAST(FLOOR(l_quantity) AS BIGINT) AS s,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
           AS p_s,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS BIGINT)
           AS n_s
  FROM lineitem GROUP BY 1, 2
),
c AS (
  SELECT l_linestatus, p_s, n_s,
         SUM(n_s) OVER (PARTITION BY l_linestatus ORDER BY s
                        ROWS UNBOUNDED PRECEDING) - n_s AS neg_below
  FROM bins
),
agg AS (
  SELECT l_linestatus,
         CAST(SUM(p_s) AS BIGINT) AS n_pos,
         CAST(SUM(n_s) AS BIGINT) AS n_neg,
         SUM(CAST(p_s AS HUGEINT)
             * (2 * CAST(neg_below AS HUGEINT) + CAST(n_s AS HUGEINT)))
           AS u2h
  FROM c GROUP BY 1
)
SELECT l_linestatus, n_pos, n_neg,
       CAST(u2h AS BIGINT) AS u2,
       CAST((u2h * 1000000)
            // (2 * CAST(n_pos AS HUGEINT) * CAST(n_neg AS HUGEINT))
         AS BIGINT) AS auc_ppm
FROM agg
"""


# ---------------------------------------------------------------------------
# chi2_independence
# ---------------------------------------------------------------------------


def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square of (priority × status), integer micro units
    (module doc)."""
    (orders,) = load_testdata(spark, sf_dir, "orders")
    cells = orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("obs")
    )
    wr = Window.partitionBy("o_orderpriority")
    wc = Window.partitionBy("o_orderstatus")
    wall = Window.partitionBy()
    t = cells.select(
        "o_orderpriority",
        "o_orderstatus",
        "obs",
        F.sum("obs").over(wr).alias("r_tot"),
        F.sum("obs").over(wc).alias("c_tot"),
        F.sum("obs").over(wall).alias("n_tot"),
    )
    diff = (
        F.col("n_tot").cast(_D38) * F.col("obs").cast(_D38)
        - F.col("r_tot").cast(_D38) * F.col("c_tot").cast(_D38)
    )
    scored = t.select(
        "o_orderpriority",
        "o_orderstatus",
        "obs",
        "r_tot",
        "c_tot",
        "n_tot",
        F.expr(
            "cast(r_tot as decimal(38,0)) * cast(c_tot as decimal(38,0))"
            " * 1000000L div cast(n_tot as decimal(38,0))"
        ).alias("exp_micro"),
        (diff * diff * F.lit(1_000_000).cast(_D38))
        .alias("num"),
    ).select(
        "o_orderpriority",
        "o_orderstatus",
        "obs",
        "r_tot",
        "c_tot",
        "n_tot",
        "exp_micro",
        F.expr(
            "num div (cast(n_tot as decimal(38,0))"
            " * cast(r_tot as decimal(38,0)) * cast(c_tot as decimal(38,0)))"
        ).alias("contrib_micro"),
    )
    return scored.withColumn(
        "chi2_micro", F.sum("contrib_micro").over(Window.partitionBy())
    )


Q_CHI2_INDEPENDENCE_SQL = """
WITH cells AS (
  SELECT o_orderpriority, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS obs
  FROM orders GROUP BY 1, 2
),
t AS (
  SELECT o_orderpriority, o_orderstatus, obs,
         SUM(obs) OVER (PARTITION BY o_orderpriority) AS r_tot,
         SUM(obs) OVER (PARTITION BY o_orderstatus) AS c_tot,
         SUM(obs) OVER () AS n_tot
  FROM cells
),
scored AS (
  SELECT o_orderpriority, o_orderstatus, obs,
         CAST(r_tot AS BIGINT) AS r_tot, CAST(c_tot AS BIGINT) AS c_tot,
         CAST(n_tot AS BIGINT) AS n_tot,
         CAST((CAST(r_tot AS HUGEINT) * CAST(c_tot AS HUGEINT) * 1000000)
              // CAST(n_tot AS HUGEINT) AS BIGINT) AS exp_micro,
         CAST(((CAST(n_tot AS HUGEINT) * CAST(obs AS HUGEINT)
                - CAST(r_tot AS HUGEINT) * CAST(c_tot AS HUGEINT))
               * (CAST(n_tot AS HUGEINT) * CAST(obs AS HUGEINT)
                  - CAST(r_tot AS HUGEINT) * CAST(c_tot AS HUGEINT))
               * 1000000)
              // (CAST(n_tot AS HUGEINT) * CAST(r_tot AS HUGEINT)
                  * CAST(c_tot AS HUGEINT)) AS BIGINT) AS contrib_micro
  FROM t
)
SELECT *, CAST(SUM(contrib_micro) OVER () AS BIGINT) AS chi2_micro FROM scored
"""


# ---------------------------------------------------------------------------
# benford_digits
# ---------------------------------------------------------------------------

#: Benford expectation log10(1 + 1/d) in ppm — a PYTHON-side literal
#: table shared by query and oracle, so neither engine evaluates a
#: transcendental.
BENFORD_PPM: dict[int, int] = {
    d: int(math.floor(math.log10(1.0 + 1.0 / d) * 1_000_000 + 0.5))
    for d in range(1, 10)
}
#: Highest power of ten the CASE cascade covers (exact integer cents
#: of any TPC-H-shaped money column fit well below 10^18).
_BENFORD_MAX_POW = 17


def _first_digit(cents):
    """Leading decimal digit via a literal power-of-ten compare chain.

    Built smallest-power-innermost so the OUTERMOST test is the largest
    power of ten — the branch evaluation order must check the widest
    magnitude first."""
    expr = F.expr("cents")
    for k in range(1, _BENFORD_MAX_POW + 1):
        p = 10**k
        expr = F.when(cents >= F.lit(p), F.expr(f"cents div {p}L")).otherwise(
            expr
        )
    return expr


def _first_digit_sql() -> str:
    parts = ["CASE"]
    for k in range(_BENFORD_MAX_POW, 0, -1):
        parts.append(f"WHEN cents >= {10 ** k} THEN cents // {10 ** k}")
    parts.append("ELSE cents END")
    return " ".join(parts)


def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of o_totalprice (module doc)."""
    (orders,) = load_testdata(spark, sf_dir, "orders")
    cents = orders.select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents")
    ).filter(F.col("cents") > 0)
    digits = cents.select(_first_digit(F.col("cents")).alias("digit"))
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("cnt"))
    wall = Window.partitionBy()
    benford = F.create_map(
        *[F.lit(x) for kv in BENFORD_PPM.items() for x in kv]
    )
    scored = counts.select(
        "digit",
        "cnt",
        F.sum("cnt").over(wall).alias("n_tot"),
        benford[F.col("digit")].cast("long").alias("benford_ppm"),
    ).select(
        "digit",
        "cnt",
        "n_tot",
        F.expr("cnt * 1000000L div n_tot").alias("freq_ppm"),
        "benford_ppm",
    )
    return scored.select(
        "*",
        F.abs(F.col("freq_ppm") - F.col("benford_ppm")).alias("dev_ppm"),
    ).withColumn(
        "tvd_ppm",
        F.expr("sum(dev_ppm) over () div 2L"),
    )


def _benford_map_sql() -> str:
    pairs = " ".join(
        f"WHEN {d} THEN {ppm}" for d, ppm in BENFORD_PPM.items()
    )
    return f"CASE digit {pairs} END"


Q_BENFORD_DIGITS_SQL = f"""
WITH cents0 AS (
  SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
digits AS (
  SELECT ({_first_digit_sql()}) AS digit
  FROM cents0 WHERE cents > 0
),
counts AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS cnt FROM digits GROUP BY 1
),
scored AS (
  SELECT digit, cnt,
         CAST(SUM(cnt) OVER () AS BIGINT) AS n_tot,
         CAST({_benford_map_sql()} AS BIGINT) AS benford_ppm
  FROM counts
),
s2 AS (
  SELECT digit, cnt, n_tot,
         cnt * 1000000 // n_tot AS freq_ppm, benford_ppm,
         ABS(cnt * 1000000 // n_tot - benford_ppm) AS dev_ppm
  FROM scored
)
SELECT *, CAST(SUM(dev_ppm) OVER () // 2 AS BIGINT) AS tvd_ppm FROM s2
"""


# ---------------------------------------------------------------------------
# autocorrelation
# ---------------------------------------------------------------------------

ACF_LAGS = (1, 2, 3)


def q_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1/2/3 autocorrelation of daily counts per event type
    (module doc).  One window pass computes all leads; the unpivot is
    an in-row struct-array explode (no extra shuffle)."""
    (events,) = load_testdata(spark, sf_dir, "events")
    daily = (
        events.select(
            "event_type", F.expr(f"ts div {NS_PER_DAY}L").alias("day")
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wlead = Window.partitionBy("event_type").orderBy("day")
    led = daily.select(
        "event_type",
        "c",
        *[F.lead("c", k).over(wlead).alias(f"y{k}") for k in ACF_LAGS],
    )
    pairs = led.select(
        "event_type",
        "c",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("int").alias("lag"),
                        F.col(f"y{k}").alias("y"),
                    )
                    for k in ACF_LAGS
                ]
            )
        ).alias("p"),
    ).select(
        "event_type", F.col("p.lag").alias("lag"), F.col("c").alias("x"), "p.y"
    ).filter(F.col("y").isNotNull())
    agg = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n_pairs") * F.col("sxy") - F.col("sx") * F.col("sy")
    d1 = F.col("n_pairs") * F.col("sxx") - F.col("sx") * F.col("sx")
    d2 = F.col("n_pairs") * F.col("syy") - F.col("sy") * F.col("sy")
    return agg.select(
        "event_type",
        "lag",
        "n_pairs",
        F.when(
            (d1 > 0) & (d2 > 0),
            (F.round((num.cast("double")
                / F.sqrt(d1.cast("double") * d2.cast("double"))) * F.lit(1e6), 0) / F.lit(1e6)),
        ).alias("r_auto"),
    )


Q_AUTOCORRELATION_SQL = f"""
WITH daily AS (
  SELECT event_type, epoch_ns(ts) // {NS_PER_DAY} AS day,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
led AS (
  SELECT event_type, c,
         {", ".join(
             f"LEAD(c, {k}) OVER (PARTITION BY event_type ORDER BY day)"
             f" AS y{k}" for k in ACF_LAGS
         )}
  FROM daily
),
pairs AS (
  {" UNION ALL ".join(
      f"SELECT event_type, {k} AS lag, c AS x, y{k} AS y FROM led"
      f" WHERE y{k} IS NOT NULL" for k in ACF_LAGS
  )}
),
agg AS (
  SELECT event_type, lag,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM pairs GROUP BY 1, 2
)
SELECT event_type, CAST(lag AS INT) AS lag, n_pairs,
       CASE WHEN n_pairs * sxx - sx * sx > 0
             AND n_pairs * syy - sy * sy > 0
            THEN ROUND((CAST(n_pairs * sxy - sx * sy AS DOUBLE)
                       / SQRT(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
                              * CAST(n_pairs * syy - sy * sy AS DOUBLE))) * 1e6, 0) / 1e6
       END AS r_auto
FROM agg
"""


# ---------------------------------------------------------------------------
# mahalanobis_outliers
# ---------------------------------------------------------------------------

MAHA_TOPK = 20


def mahalanobis_topk(emb: DataFrame) -> DataFrame:
    """Integer-exact diagonal-Mahalanobis top-:data:`MAHA_TOPK` over any
    (vec_id, label, embedding) frame — the ``q_mahalanobis_outliers``
    core, split out so scale smokes can feed replicated corpora."""
    x = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("d0", "xv"),
    ).select(
        "vec_id",
        "label",
        (F.col("d0") + 1).alias("dim"),
        F.floor(F.col("xv") * 1_000_000 + F.lit(0.5)).cast("long").alias("xq"),
    )
    stats = x.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xq").alias("s"),
        F.sum(F.col("xq") * F.col("xq")).alias("s2"),
    )
    term = F.expr(
        "case when cast(n as decimal(38,0)) * cast(s2 as decimal(38,0))"
        "          - cast(s as decimal(38,0)) * cast(s as decimal(38,0)) > 0"
        " then (cast(xq as decimal(38,0)) * cast(n as decimal(38,0))"
        "       - cast(s as decimal(38,0)))"
        "      * (cast(xq as decimal(38,0)) * cast(n as decimal(38,0))"
        "         - cast(s as decimal(38,0)))"
        "      * 1000000L"
        "      div (cast(n as decimal(38,0)) * cast(s2 as decimal(38,0))"
        "           - cast(s as decimal(38,0)) * cast(s as decimal(38,0)))"
        " else 0L end"
    )
    d2 = (
        x.join(F.broadcast(stats), "dim")
        .select("vec_id", "label", term.alias("t"))
        .groupBy("vec_id", "label")
        .agg(F.sum("t").alias("d2_micro"))
    )
    return d2.orderBy(F.desc("d2_micro"), F.asc("vec_id")).limit(MAHA_TOPK)


def q_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 diagonal-Mahalanobis embedding outliers, integer-exact
    (module doc)."""
    (emb,) = load_testdata(spark, sf_dir, "embeddings")
    return mahalanobis_topk(emb)


Q_MAHALANOBIS_OUTLIERS_SQL = f"""
WITH x AS (
  SELECT vec_id, label, pos AS dim,
         CAST(FLOOR(v[pos] * 1000000 + 0.5) AS BIGINT) AS xq
  FROM (SELECT vec_id, label, embedding::DOUBLE[] AS v,
               unnest(range(1, len(embedding) + 1)) AS pos
        FROM embeddings)
),
stats AS (
  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(xq) AS BIGINT) AS s,
         CAST(SUM(xq * xq) AS BIGINT) AS s2
  FROM x GROUP BY dim
),
terms AS (
  SELECT x.vec_id, x.label,
         CASE WHEN CAST(n AS HUGEINT) * CAST(s2 AS HUGEINT)
                   - CAST(s AS HUGEINT) * CAST(s AS HUGEINT) > 0
              THEN CAST(
                ((CAST(xq AS HUGEINT) * CAST(n AS HUGEINT) - CAST(s AS HUGEINT))
                 * (CAST(xq AS HUGEINT) * CAST(n AS HUGEINT) - CAST(s AS HUGEINT))
                 * 1000000)
                // (CAST(n AS HUGEINT) * CAST(s2 AS HUGEINT)
                    - CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS BIGINT)
              ELSE 0 END AS t
  FROM x JOIN stats USING (dim)
)
SELECT vec_id, label, CAST(SUM(t) AS BIGINT) AS d2_micro
FROM terms GROUP BY vec_id, label
ORDER BY d2_micro DESC, vec_id ASC LIMIT {MAHA_TOPK}
"""


QUERIES = {
    "auc_score": q_auc_score,
    "chi2_independence": q_chi2_independence,
    "benford_digits": q_benford_digits,
    "autocorrelation": q_autocorrelation,
    "mahalanobis_outliers": q_mahalanobis_outliers,
}

ORACLE_SQL = {
    "auc_score": Q_AUC_SCORE_SQL,
    "chi2_independence": Q_CHI2_INDEPENDENCE_SQL,
    "benford_digits": Q_BENFORD_DIGITS_SQL,
    "autocorrelation": Q_AUTOCORRELATION_SQL,
    "mahalanobis_outliers": Q_MAHALANOBIS_OUTLIERS_SQL,
}
