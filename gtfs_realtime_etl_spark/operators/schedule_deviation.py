"""The flagship analytics query: schedule deviation / stop reliability.

Re-expresses the reference's DuckDB query
(/root/reference/notebooks/schedule_deviation.ipynb, cell 11) and its
pandas/scipy post-processing (cell 14) as one composable Spark plan.

Reference semantics, replicated exactly (SURVEY.md §7 "hard parts"):

1. routes ⋈ trips ⋈ stop_times ⋈ stops (equi joins J1-J3), filtered to
   ``route_type IN (3, 700)`` and arrival hours < 24 (the past-midnight
   regex, P6) — wraparound is *excluded*, not fixed.
2. ⋈ locations on ``trip_id`` with the ``ST_DWithin(geom, stop, 0.0002)``
   residual (J4) — planar degree distance, not haversine.
3. ``diff`` = ping local time-of-day − scheduled arrival seconds (F7-F9).
4. Band filter ``diff BETWEEN -600 AND 600`` (P8) — applied BETWEEN the
   join and the window, so the window ranks only band-passing pings.
5. ``ROW_NUMBER() OVER (PARTITION BY trip_id, stop_id, arrival_time,
   stop_sequence ORDER BY arrival_time, ABS(diff))`` → keep rn=1 (W1/P9).
6. Per-stop ``COUNT/AVG/STDDEV_SAMP(diff)`` + hex-WKB stop geometry
   (A1-A4, F6; STDDEV is *sample* stddev — DuckDB default).
7. Reliability = Φ(z_max) − Φ(z_min) over [−60 s, +300 s] under the
   fitted normal, with the single-event (stddev NULL) rows dropped —
   absorbed into the plan instead of pandas (cell 14).

Physical-plan notes (100 TB design):

- routes/trips/stops are classic small dims → explicit ``broadcast()``;
  the static-schedule build is then shuffle-free.
- The only shuffle joining the fact table is the hash/SMJ on ``trip_id``
  (locations ⨝ schedule); the spatial predicate stays a residual join
  condition on that equi key, so no cross product ever materializes.
- Each ping's local time of day is computed once, in the location-side
  projection before the join.  The band filter is pushed into the
  join's residual, which is then ``dwithin`` plus an integer band on
  ``ping_secs − arrival_secs``: no time-zone field extraction per
  candidate pair.
- The stop geometry is native Column ops (functions/geo.py::point_wkb),
  so the plan has no Python boundary.
- The window and the final aggregate both key on subsets of the join
  output; at 100 TB the dominant cost is the single trip_id shuffle of
  the fact side.
- SKEW CAVEAT (measured, tests/test_flagship_skew_split.py): because
  the window's clustering requirement (trip_id, stop_id, arrival_time,
  stop_sequence) is satisfied by the join's trip_id partitioning,
  Catalyst fuses join + window into ONE stage with no exchange between
  them — one shuffle saved, but AQE's OptimizeSkewedJoin then REFUSES
  to split a hot trip_id partition (splitting would break the window's
  required distribution), so a hot trip serializes the whole stage.
  ``skew_safe=True`` inserts an explicit repartition on the FULL
  window key between join and window: one extra exchange, in return
  for (a) the hot trip's rows spreading over its stop events and
  (b) the fact join becoming AQE-skew-splittable.  Default off — the
  fused plan is strictly better when trip volume is balanced.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.functions.geo import dwithin, hex_wkb, point_wkb
from gtfs_realtime_etl_spark.functions.stats import norm_cdf
from gtfs_realtime_etl_spark.functions.time import (
    NOT_PAST_MIDNIGHT,
    gtfs_time_to_secs,
    seconds_of_day,
)

DWITHIN_RADIUS = 0.0002  # degrees (~22 m at Toronto's latitude)
BAND = (-600, 600)  # plausibility band, seconds
RELIABILITY_WINDOW = (-60.0, 300.0)  # [1 min early, 5 min late]
ROUTE_TYPES = (3, 700)  # bus + extended bus


def schedule_deviation(
    locations: DataFrame,
    routes: DataFrame,
    trips: DataFrame,
    stops: DataFrame,
    stop_times: DataFrame,
    skew_safe: bool = False,
) -> DataFrame:
    """Per-stop deviation aggregate (cell-11 parity).

    ``locations`` must carry ``trip_id``, ``timestamp`` (session tz),
    ``longitude``, ``latitude``.  Returns one row per (stop_id, stop
    geometry): ``stop_id, count, avg_diff, stddev_diff, geometry``.
    The map client reprojects to Web Mercator itself, as the reference
    notebook does with GeoPandas (schedule_deviation.ipynb:701-705).
    """
    # Static schedule: routes ⋈ trips ⋈ stop_times ⋈ stops, dims broadcast.
    # The (routes ⋈ trips) product is broadcast EXPLICITLY (not left to
    # the size estimator): it is dim-sized at any scale, and without the
    # hint a conservative estimate turns this join into an SMJ whose
    # trip_id partitioning then fuses into the fact join's stage —
    # costing two extra shuffles and blocking AQE skew handling there.
    dims = F.broadcast(
        F.broadcast(routes.filter(F.col("route_type").isin(*ROUTE_TYPES)))
        .join(F.broadcast(trips), "route_id")
    )
    sched = (
        dims
        .join(stop_times, "trip_id")
        .join(F.broadcast(stops), "stop_id")
        .filter(NOT_PAST_MIDNIGHT(F.col("arrival_time")))
        .select(
            "trip_id",
            "route_short_name",
            "stop_sequence",
            "arrival_time",
            gtfs_time_to_secs(F.col("arrival_time")).alias("arrival_secs"),
            "stop_id",
            "stop_lon",
            "stop_lat",
        )
    )

    # Fact ⋈ schedule: equi on trip_id, ST_DWithin as residual condition.
    # Each ping's local time of day is computed once, before the join, so
    # the band check on every candidate pair is an integer subtraction.
    loc = locations.select(
        "trip_id",
        seconds_of_day(F.col("timestamp")).alias("ping_secs"),
        "longitude",
        "latitude",
    )
    matched = loc.join(
        sched,
        (loc["trip_id"] == sched["trip_id"])
        & dwithin(
            loc["longitude"],
            loc["latitude"],
            sched["stop_lon"],
            sched["stop_lat"],
            DWITHIN_RADIUS,
        ),
    ).select(
        sched["trip_id"],
        "route_short_name",
        "stop_sequence",
        "arrival_time",
        (F.col("ping_secs") - F.col("arrival_secs")).alias("diff"),
        "stop_id",
        "stop_lon",
        "stop_lat",
    )

    # Band filter BEFORE the window (cell-11 subquery nesting).
    banded = matched.filter(F.col("diff").between(*BAND))
    if skew_safe:
        # Break the join->window stage fusion (see module docstring):
        # the full window key spreads a hot trip over its stop events
        # and lets AQE split the fact join's skewed partitions.
        banded = banded.repartition(
            "trip_id", "stop_id", "arrival_time", "stop_sequence"
        )

    # Closest-ping-wins dedup per scheduled stop event.  The reference
    # orders only by (arrival_time, ABS(diff)) — an early ping at -X and
    # a late ping at +X tie, and ROW_NUMBER picks one nondeterministically
    # (in DuckDB too).  We append `diff ASC` as a final tie-break so the
    # result is a deterministic function of the data; within a partition
    # every other column is constant, so this is the only deviation.
    w = Window.partitionBy(
        "trip_id", "stop_id", "arrival_time", "stop_sequence"
    ).orderBy(F.asc("arrival_time"), F.asc(F.abs(F.col("diff"))), F.asc("diff"))
    ranked = banded.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)

    return ranked.groupBy("stop_id", "stop_lon", "stop_lat").agg(
        F.count("diff").alias("count"),
        F.avg("diff").alias("avg_diff"),
        F.stddev_samp("diff").alias("stddev_diff"),
    ).select(
        F.col("stop_id"),
        F.col("stop_lon"),
        F.col("stop_lat"),
        F.col("count"),
        F.col("avg_diff"),
        F.col("stddev_diff"),
        hex_wkb(point_wkb(F.col("stop_lon"), F.col("stop_lat"))).alias("geometry"),
    )


def _z(edge: float) -> Column:
    """``(edge − μ) / σ`` with cell 14's numpy division at σ = 0 (a stop
    whose deviations are all equal): ±inf, so Φ is 0 or 1, and NaN when
    μ sits on the edge.  ANSI division raises DIVIDE_BY_ZERO there."""
    num = F.lit(edge) - F.col("avg_diff")
    return F.when(F.col("stddev_diff") != 0, num / F.col("stddev_diff")).otherwise(
        num * F.lit(float("inf"))
    )


def stop_reliability(deviation: DataFrame) -> DataFrame:
    """Cell-14 parity, in-plan: dropna → z-scores → Φ(z_max)−Φ(z_min)
    over :data:`RELIABILITY_WINDOW`."""
    lo, hi = RELIABILITY_WINDOW
    out = deviation.na.drop(subset=["avg_diff", "stddev_diff"])
    return (
        out.withColumn("z_min", _z(lo))
        .withColumn("z_max", _z(hi))
        .withColumn("reliability", norm_cdf(F.col("z_max")) - norm_cdf(F.col("z_min")))
    )
