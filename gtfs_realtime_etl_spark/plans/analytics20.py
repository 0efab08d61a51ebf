"""Twenty-fourth query bank: rank correlation and gapped sequence
support.

- ``spearman_corr`` — EXACT tie-corrected Spearman rank correlation
  between event value (cents) and hour-of-day, per event type, with
  no per-row rank and no square root: ties take average ranks, and
  the average rank of a distinct value with count ``c`` ending at
  cumulative count ``cum`` is ``(2*cum - c + 1) / 2`` — so DOUBLED
  ranks ``R = 2*cum - c + 1`` are integers, the scale factor cancels
  in Pearson's ratio, and everything reduces to exact 128-bit moment
  sums over the (type, cents, hour) JOINT histogram joined to the two
  marginal rank maps.  The square root is avoided by reporting the
  SIGNED SQUARE ``rho2_signed_ppm = sign(num) * (num div g)^2 * 1e6 /
  ((dx div g) * (dy div g))`` with a SHARED decimal scale-down factor
  ``g = 10^scale_e`` (``scale_e = max(0, digits(max(dx, dy)) - 15)``),
  plus the g-quantized num/dx/dy components as BIGINT — all truncating
  128-bit division (portable — pinned by
  ``tests/test_analytics18.py::test_signed_integer_division_portability``).
  Quantizing by a shared factor keeps every intermediate inside 128
  bits: |num| <= sqrt(dx*dy) <= max(dx, dy) by Cauchy-Schwarz, so
  |num div g| < 1e15 and (num div g)^2 * 1e6 < 1e36 < 1e38.  The
  quantization error of the REPORTED ratio is governed by the SMALLER
  quantized denominator (round-10 advisor correction — the original
  "~1e-15 relative" claim holds only when dx and dy have similar
  magnitude): truncating dx, dy downward inflates rho2 by up to
  ~1e6 * (1/dxq + 1/dyq) ppm, so a component 15+ orders of magnitude
  below its partner (dxq ~ 1) could be off by tens of percent and
  even exceed the |rho| <= 1 range.  Hence the FLOOR convention:
  whenever quantization is active (scale_e > 0), rho2 is NULL unless
  min(dxq, dyq) >= 10^6 (``SPEARMAN_QFLOOR``), bounding the error to
  ~2 ppm — the output grain; a defensive LEAST/GREATEST clamp to
  ±1e6 makes the |rho| <= 1 invariant unconditional.  At test scale
  (dx, dy < 1e15) ``scale_e = 0``, the quantized components equal the
  exact ones, and exact integer division makes rho2 <= 1e6 by
  Cauchy-Schwarz with no error at all (the floor deliberately does
  NOT apply there — small EXACT components are fine).
- ``seq_pairs_support`` — gapped sequential-pattern support (the
  PrefixSpan level-1→2 step): an ordered type pair (a → b) is
  supported by a user iff SOME a-event precedes SOME b-event, i.e.
  iff ``min_ts(a) < max_ts(b)`` — so per-user state is just the
  (type, min_ts, max_ts) triple list (≤ n_types entries), pairs are
  generated IN-ROW from that bounded list, and support counts one
  shuffle at user grain plus one at pair grain.  Complements
  ``markov_transitions`` (adjacent-only) and ``event_ngrams``
  (contiguous): this is the anywhere-later ordering.  Support in ppm
  of sequence-eligible users.

Reference scope note: the reference (smohiudd/gtfs-realtime-etl) has
no analytics surface of this kind; these are driver-mandated
LLM-pipeline / warehouse extensions (SURVEY.md §7 step 7).

At 100 TB: ``spearman_corr`` aggregates at joint-histogram grain
(|distinct cents| x 24 per type after one combinable shuffle) with
marginal-grain rank maps — no raw-row window; ``seq_pairs_support``
is user-grain then pair-grain (n_types^2, tiny).  Overflow contract
(corrected in round 10 — the original note only bounded single
moment TERMS): with doubled ranks R <= 2n the moment sums are O(n^3)
(Sxx <= 4n^3) and the centered components num/dx/dy are O(n^4)
(|num|, dx, dy <= 4n^4), so the EXACT 128-bit stage holds for
n <= ~2.2e9 rows per event type (4n^4 < 1e38); beyond that the
moment differences themselves exceed DECIMAL(38,0)/HUGEINT and the
query must be sharded (e.g. by day) or run on rescaled ranks.  The
emitted num/dx/dy are quantized by the shared g = 10^scale_e so they
always fit BIGINT, and the rho2 intermediate (num div g)^2 * 1e6 is
bounded < 1e36 by construction (see above) — the unquantized form
num^2 * 1e6 would overflow 128 bits as soon as dx*dy > 1e32, i.e.
already at ~3e5 strongly-correlated rows per type.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.plans.base import CENTS, NS_PER_DAY, NS_PER_HOUR
from gtfs_realtime_etl_spark.sources.testdata import load_testdata


# ---------------------------------------------------------------------------
# spearman_corr
# ---------------------------------------------------------------------------


def spearman_moments(base: DataFrame) -> DataFrame:
    """Exact tie-corrected Spearman over an (event_type, x, y) integer
    frame — the testable kernel behind ``spearman_corr``."""
    joint = base.groupBy("event_type", "x", "y").agg(
        F.count(F.lit(1)).alias("n_xy")
    )

    def rank_map(col: str) -> DataFrame:
        marg = joint.groupBy("event_type", col).agg(
            F.sum("n_xy").alias("c")
        )
        w = (
            Window.partitionBy("event_type")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return marg.withColumn("cum", F.sum("c").over(w)).select(
            "event_type",
            col,
            # Doubled average rank: 2*cum - c + 1 (exact integer).
            F.expr("2 * cum - c + 1").alias(f"r_{col}"),
        )

    cells = joint.join(rank_map("x"), ["event_type", "x"]).join(
        rank_map("y"), ["event_type", "y"]
    )
    mom = cells.groupBy("event_type").agg(
        F.sum("n_xy").cast("long").alias("n"),
        F.sum(
            F.expr("CAST(n_xy AS DECIMAL(38,0)) * CAST(r_x AS DECIMAL(38,0))")
        ).alias("srx"),
        F.sum(
            F.expr("CAST(n_xy AS DECIMAL(38,0)) * CAST(r_y AS DECIMAL(38,0))")
        ).alias("sry"),
        F.sum(
            F.expr(
                "CAST(n_xy AS DECIMAL(38,0)) * CAST(r_x AS DECIMAL(38,0))"
                " * CAST(r_y AS DECIMAL(38,0))"
            )
        ).alias("sxy"),
        F.sum(
            F.expr(
                "CAST(n_xy AS DECIMAL(38,0)) * CAST(r_x AS DECIMAL(38,0))"
                " * CAST(r_x AS DECIMAL(38,0))"
            )
        ).alias("sxx"),
        F.sum(
            F.expr(
                "CAST(n_xy AS DECIMAL(38,0)) * CAST(r_y AS DECIMAL(38,0))"
                " * CAST(r_y AS DECIMAL(38,0))"
            )
        ).alias("syy"),
    )
    # num = n*Sxy - Srx*Sry; dx = n*Sxx - Srx^2; dy = n*Syy - Sry^2.
    # rho = num / sqrt(dx*dy); reported via the g-quantized signed
    # square (see quantize_spearman_components).  Degenerate (constant
    # x or y, dx or dy = 0) -> NULL in both engines.
    raw = mom.select(
        "event_type",
        "n",
        F.expr("CAST(n AS DECIMAL(38,0)) * sxy - srx * sry").alias("num_x"),
        F.expr("CAST(n AS DECIMAL(38,0)) * sxx - srx * srx").alias("dx_x"),
        F.expr("CAST(n AS DECIMAL(38,0)) * syy - sry * sry").alias("dy_x"),
    )
    return quantize_spearman_components(raw)


#: Shared scale-down factor 10^scale_e, as a SQL fragment over the
#: exact 128-bit components.  digits(max(dx,dy)) via the decimal's
#: string form — exact, no float log10 near-boundary hazard.  dx_x and
#: dy_x are >= 0, so the string has no sign character.
_SPEARMAN_E = (
    "GREATEST(LENGTH(CAST(GREATEST(dx_x, dy_x,"
    " CAST(1 AS DECIMAL(38,0))) AS STRING)) - 15, 0)"
)
_SPEARMAN_G = f"CAST(CONCAT('1', REPEAT('0', {_SPEARMAN_E})) AS DECIMAL(38,0))"

#: Minimum quantized denominator for a reported (non-NULL) rho2 when
#: quantization is active: bounds the truncation inflation to
#: ~1e6 * (1/dxq + 1/dyq) <= ~2 ppm (see module doc).
SPEARMAN_QFLOOR = 10**6


def quantize_spearman_components(raw: DataFrame) -> DataFrame:
    """Quantize exact 128-bit (num_x, dx_x, dy_x) Spearman components
    by the shared g = 10^scale_e so every output fits BIGINT and the
    rho2 intermediate stays inside 128 bits — the testable kernel
    behind ``spearman_moments``'s output stage.

    Cauchy-Schwarz gives |num_x| <= sqrt(dx_x*dy_x) <= max(dx_x, dy_x),
    so |num_x div g| < 1e15 and (num_x div g)^2 * 1e6 < 1e36.  Signed
    truncating div is portable (pinned).  NULL convention (identical
    in both engines): rho2 is NULL for degenerate inputs (dx or dy
    = 0) and, when quantization is active (scale_e > 0), whenever
    min(dxq, dyq) < ``SPEARMAN_QFLOOR`` — below the floor the
    denominator truncation could inflate the ratio by tens of percent
    (round-10 advisor finding; the >15-orders-apart underflow-to-0
    case is subsumed).  The surviving values are correct to ~2 ppm
    and defensively clamped to ±1e6 so |rho| <= 1 holds
    unconditionally."""
    g = _SPEARMAN_G
    # Spark `div` yields BIGINT even on DECIMAL operands, so each
    # quotient is re-cast to DECIMAL(38,0) before the rho2 products
    # (BIGINT * BIGINT would long-overflow under ANSI).
    nq = f"CAST(num_x div {g} AS DECIMAL(38,0))"
    dxq = f"CAST(dx_x div {g} AS DECIMAL(38,0))"
    dyq = f"CAST(dy_x div {g} AS DECIMAL(38,0))"
    return raw.select(
        "event_type",
        "n",
        F.expr(f"CAST({_SPEARMAN_E} AS BIGINT)").alias("scale_e"),
        F.expr(f"CAST(num_x div {g} AS BIGINT)").alias("num"),
        F.expr(f"CAST(dx_x div {g} AS BIGINT)").alias("dx"),
        F.expr(f"CAST(dy_x div {g} AS BIGINT)").alias("dy"),
        F.expr(
            f"CASE WHEN dx_x > 0 AND dy_x > 0"
            f" AND ({_SPEARMAN_E} = 0 OR LEAST({dxq}, {dyq})"
            f"      >= {SPEARMAN_QFLOOR}) THEN"
            f" LEAST(GREATEST("
            f" CAST((CASE WHEN num_x >= 0 THEN 1 ELSE -1 END)"
            f" * ((({nq} * {nq} * 1000000)"
            f"    div ({dxq} * {dyq}))) AS BIGINT),"
            f" CAST(-1000000 AS BIGINT)), CAST(1000000 AS BIGINT)) END"
        ).alias("rho2_signed_ppm"),
    )


def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    return spearman_moments(
        events.select(
            "event_type",
            F.expr(CENTS).alias("x"),
            F.expr(f"(ts % {NS_PER_DAY}) div {NS_PER_HOUR}").alias("y"),
        )
    )


Q_SPEARMAN_CORR_SQL = f"""
WITH base AS (
  SELECT event_type, {CENTS} AS x,
         (epoch_ns(ts) % {NS_PER_DAY}) // {NS_PER_HOUR} AS y
  FROM events
),
joint AS (
  SELECT event_type, x, y, CAST(COUNT(*) AS BIGINT) AS n_xy
  FROM base GROUP BY 1, 2, 3
),
xm AS (
  SELECT event_type, x, 2 * SUM(SUM(n_xy)) OVER (
           PARTITION BY event_type ORDER BY x ROWS UNBOUNDED PRECEDING)
         - SUM(n_xy) + 1 AS r_x
  FROM joint GROUP BY event_type, x
),
ym AS (
  SELECT event_type, y, 2 * SUM(SUM(n_xy)) OVER (
           PARTITION BY event_type ORDER BY y ROWS UNBOUNDED PRECEDING)
         - SUM(n_xy) + 1 AS r_y
  FROM joint GROUP BY event_type, y
),
cells AS (
  SELECT j.event_type, j.n_xy, xm.r_x, ym.r_y
  FROM joint j
  JOIN xm ON j.event_type = xm.event_type AND j.x = xm.x
  JOIN ym ON j.event_type = ym.event_type AND j.y = ym.y
),
mom AS (
  SELECT event_type,
         CAST(SUM(n_xy) AS BIGINT) AS n,
         SUM(CAST(n_xy AS HUGEINT) * CAST(r_x AS HUGEINT)) AS srx,
         SUM(CAST(n_xy AS HUGEINT) * CAST(r_y AS HUGEINT)) AS sry,
         SUM(CAST(n_xy AS HUGEINT) * CAST(r_x AS HUGEINT)
             * CAST(r_y AS HUGEINT)) AS sxy,
         SUM(CAST(n_xy AS HUGEINT) * CAST(r_x AS HUGEINT)
             * CAST(r_x AS HUGEINT)) AS sxx,
         SUM(CAST(n_xy AS HUGEINT) * CAST(r_y AS HUGEINT)
             * CAST(r_y AS HUGEINT)) AS syy
  FROM cells GROUP BY 1
),
raw AS (
  SELECT event_type, n,
         CAST(n AS HUGEINT) * sxy - srx * sry AS num_x,
         CAST(n AS HUGEINT) * sxx - srx * srx AS dx_x,
         CAST(n AS HUGEINT) * syy - sry * sry AS dy_x
  FROM mom
),
scaled AS (
  SELECT *,
         CAST('1' || REPEAT('0', GREATEST(LENGTH(CAST(GREATEST(dx_x, dy_x,
              CAST(1 AS HUGEINT)) AS VARCHAR)) - 15, 0)) AS HUGEINT) AS g,
         CAST(GREATEST(LENGTH(CAST(GREATEST(dx_x, dy_x,
              CAST(1 AS HUGEINT)) AS VARCHAR)) - 15, 0) AS BIGINT) AS scale_e
  FROM raw
)
SELECT event_type, n, scale_e,
       CAST(num_x // g AS BIGINT) AS num,
       CAST(dx_x // g AS BIGINT) AS dx,
       CAST(dy_x // g AS BIGINT) AS dy,
       CASE WHEN dx_x > 0 AND dy_x > 0
             AND (scale_e = 0 OR LEAST(dx_x // g, dy_x // g)
                  >= {SPEARMAN_QFLOOR}) THEN
         LEAST(GREATEST(
           CAST((CASE WHEN num_x >= 0 THEN 1 ELSE -1 END)
                * (((num_x // g) * (num_x // g) * 1000000)
                   // ((dx_x // g) * (dy_x // g))) AS BIGINT),
           CAST(-1000000 AS BIGINT)), CAST(1000000 AS BIGINT)) END
         AS rho2_signed_ppm
FROM scaled
"""


# ---------------------------------------------------------------------------
# seq_pairs_support
# ---------------------------------------------------------------------------


def seq_pair_support(events: DataFrame) -> DataFrame:
    """Gapped ordered-pair support over an (user_id, ts, event_type)
    frame — the testable kernel behind ``seq_pairs_support``."""
    spans = events.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("min_ts"), F.max("ts").alias("max_ts")
    )
    per_user = spans.groupBy("user_id").agg(
        F.expr(
            "array_sort(collect_list(struct(event_type, min_ts, max_ts)))"
        ).alias("types")
    )
    pairs = per_user.select(
        "user_id",
        F.explode(
            F.expr(
                "flatten(transform(types, a ->"
                " transform(filter(types, b ->"
                " b.event_type != a.event_type AND a.min_ts < b.max_ts),"
                " b -> struct(a.event_type AS t_first,"
                " b.event_type AS t_then))))"
            )
        ).alias("p"),
    )
    support = pairs.groupBy("p.t_first", "p.t_then").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    # Share over users with >= 2 events of distinct types (the
    # sequence-eligible population) via a window total-free scalar:
    # eligible = users whose per-user type list has >= 2 entries.
    eligible = per_user.filter(F.size("types") >= 2).agg(
        F.count(F.lit(1)).alias("n_eligible")
    )
    return support.crossJoin(F.broadcast(eligible)).select(
        "t_first",
        "t_then",
        F.col("n_users").cast("long").alias("n_users"),
        F.col("n_eligible").cast("long").alias("n_eligible"),
        F.expr(
            "CAST((CAST(n_users AS DECIMAL(38,0)) * 1000000)"
            " div CAST(n_eligible AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("support_ppm"),
    )


def q_seq_pairs_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_testdata(spark, sf_dir, "events")
    return seq_pair_support(events)


Q_SEQ_PAIRS_SUPPORT_SQL = """
WITH spans AS (
  SELECT user_id, event_type,
         MIN(epoch_ns(ts)) AS min_ts, MAX(epoch_ns(ts)) AS max_ts
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT a.user_id, a.event_type AS t_first, b.event_type AS t_then
  FROM spans a JOIN spans b
    ON a.user_id = b.user_id
   AND a.event_type != b.event_type
   AND a.min_ts < b.max_ts
),
support AS (
  SELECT t_first, t_then, CAST(COUNT(*) AS BIGINT) AS n_users
  FROM pairs GROUP BY 1, 2
),
eligible AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_eligible FROM (
    SELECT user_id FROM spans GROUP BY 1 HAVING COUNT(*) >= 2
  )
)
SELECT t_first, t_then, n_users, n_eligible,
       CAST((CAST(n_users AS HUGEINT) * 1000000)
            // CAST(n_eligible AS HUGEINT) AS BIGINT) AS support_ppm
FROM support CROSS JOIN eligible
"""


QUERIES = {
    "spearman_corr": q_spearman_corr,
    "seq_pairs_support": q_seq_pairs_support,
}

ORACLE_SQL = {
    "spearman_corr": Q_SPEARMAN_CORR_SQL,
    "seq_pairs_support": Q_SEQ_PAIRS_SUPPORT_SQL,
}
