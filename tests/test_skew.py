"""Skew handling on the flagship's one fact shuffle: AQE's skew-join
split, which ``schedule_deviation(skew_safe=True)`` makes reachable
(opt-in scale smoke; see operators/schedule_deviation.py)."""

from __future__ import annotations

import os

import pytest


@pytest.mark.scale_smoke
@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SCALE_SMOKE"),
    reason="opt-in: SPARK_GRAFT_SCALE_SMOKE=1 runs the flagship skew smoke",
)
def test_flagship_join_aqe_skew_split(spark):
    """The flagship's one fact shuffle (locations x schedule on trip_id)
    under a deliberately hot trip_id.  Measured finding encoded here:
    the DEFAULT plan fuses join+window into one stage (the window key
    is a superset of trip_id), which blocks AQE's skew split — so the
    skew_safe=True mode must (a) produce exactly the default plan's
    rows and (b) yield a final adaptive plan with the skewed join
    actually split."""
    import time

    from pyspark.sql import functions as F

    from gtfs_realtime_etl_spark.operators.schedule_deviation import (
        schedule_deviation,
    )

    # Schedule big enough that the fact join is a genuine SMJ with its
    # own exchange on each side (a broadcast-able schedule would hide
    # the skew problem entirely): 20k trips x 10 stops = 200k stop_times.
    n_trips, n_cold_trips, hot_rows, cold_rows = 20_000, 50, 300_000, 100
    routes = spark.createDataFrame(
        [("R1", "r1", 3)], "route_id string, route_short_name string, route_type int"
    )
    trips = spark.range(n_trips).select(
        F.concat(F.lit("T"), F.col("id").cast("string")).alias("trip_id"),
        F.lit("R1").alias("route_id"),
    ).unionAll(spark.createDataFrame([("T_hot", "R1")], "trip_id string, route_id string"))
    stops = spark.createDataFrame(
        [(f"S{j}", 43.65 + j * 1e-3, -79.38 - j * 1e-3) for j in range(10)],
        "stop_id string, stop_lat double, stop_lon double",
    )

    def sched_rows(trip_expr, n, n_stops=10):
        return spark.range(n * n_stops).select(
            trip_expr.alias("trip_id"),
            F.concat(
                F.lit("09:"),
                F.lpad((F.col("id") % n_stops).cast("string"), 2, "0"),
                F.lit(":00"),
            ).alias("arrival_time"),
            F.concat(F.lit("S"), (F.col("id") % n_stops).cast("string")).alias(
                "stop_id"
            ),
            (F.col("id") % n_stops).cast("int").alias("stop_sequence"),
        )

    stop_times = sched_rows(
        F.concat(F.lit("T"), (F.col("id") / 10).cast("long").cast("string")), n_trips
    ).unionAll(sched_rows(F.lit("T_hot"), 1))

    def pings(trip_expr, n, n_parts):
        return spark.range(0, n, 1, n_parts).select(
            trip_expr.alias("trip_id"),
            F.to_timestamp(
                F.concat(
                    F.lit("2024-03-05 09:"),
                    F.lpad((F.col("id") % 10).cast("string"), 2, "0"),
                    F.lit(":"),
                    F.lpad((F.col("id") % 60).cast("string"), 2, "0"),
                )
            ).alias("timestamp"),
            (F.lit(43.65) + (F.col("id") % 10) * 1e-3 + (F.col("id") % 7) * 1e-6).alias(
                "latitude"
            ),
            (F.lit(-79.38) - (F.col("id") % 10) * 1e-3).alias("longitude"),
        )

    hot = pings(F.lit("T_hot"), hot_rows, 8)
    cold = pings(
        F.concat(F.lit("T"), (F.col("id") % n_cold_trips).cast("string")),
        n_cold_trips * cold_rows,
        8,
    )
    locations = hot.unionAll(cold).select(
        "trip_id", "timestamp", "longitude", "latitude"
    )

    baseline = schedule_deviation(locations, routes, trips, stops, stop_times)
    base_rows = sorted(map(tuple, baseline.collect()))

    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    try:
        # Keep the (small) dim chain broadcast but push the 200k-row
        # schedule past the static threshold, forbid AQE's runtime
        # SMJ->BHJ conversion, and scale the skew thresholds down to
        # this fixture's bytes.
        conf.set("spark.sql.autoBroadcastJoinThreshold", "1MB")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256KB"
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        skewed = schedule_deviation(
            locations, routes, trips, stops, stop_times, skew_safe=True
        )
        t0 = time.time()
        skew_rows = sorted(map(tuple, skewed.collect()))
        dt = time.time() - t0
        plan = skewed._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)

    assert skew_rows == base_rows and base_rows
    # AQE detected and split the hot trip_id partition: the final
    # adaptive plan marks the join/readers as skew-handled.
    assert "skew=true" in plan or "skewed" in plan.lower(), plan[-3000:]
    assert dt < 240, f"skewed flagship took {dt:.0f}s"
