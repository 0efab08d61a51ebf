"""Watermarked windowed aggregation: batch twin correctness, streaming
append emission, and watermark-driven late-data drop."""

from __future__ import annotations

import time

import pandas as pd

from gtfs_realtime_etl_spark.streaming.windows import windowed_counts

BASE = 1709650800  # 2024-03-05, on a 5-minute boundary multiple


def _events_df(spark, rows):
    pdf = pd.DataFrame(rows, columns=["route_id", "ts_sec", "speed"])
    df = spark.createDataFrame(pdf)
    return df.select(
        "route_id",
        df.ts_sec.cast("timestamp").alias("timestamp"),
        "speed",
    )


def test_windowed_counts_batch_twin(spark):
    rows = [
        ("R1", BASE + 10, 10.0),
        ("R1", BASE + 20, 20.0),
        ("R2", BASE + 30, 30.0),
        ("R1", BASE + 310, 40.0),  # next 5-min window
    ]
    out = (
        windowed_counts(_events_df(spark, rows))
        .orderBy("window_start", "route_id")
        .collect()
    )
    assert [(r["route_id"], r["n_events"], r["avg_speed"]) for r in out] == [
        ("R1", 2, 15.0),
        ("R2", 1, 30.0),
        ("R1", 1, 40.0),
    ]
    assert (out[0]["window_end"] - out[0]["window_start"]).total_seconds() == 300


def test_streaming_window_emits_on_watermark_and_drops_late(spark, tmp_path):
    """Append mode: a window emits once the watermark passes its end;
    an event arriving AFTER the watermark has moved past its window is
    dropped (bounded state, at-most-once for too-late data)."""
    src_dir = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    schema = "route_id string, ts_sec long, speed double"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).write.mode("overwrite" if name == "b0" else "append").json(
            src_dir
        )

    write_batch("b0", [("R1", BASE + 10, 10.0), ("R1", BASE + 70, 20.0)])

    stream = (
        spark.readStream.schema(schema)
        .json(src_dir)
        .selectExpr(
            "route_id", "CAST(ts_sec AS TIMESTAMP) AS timestamp", "speed"
        )
    )
    out = windowed_counts(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_agg")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        # watermark still inside the window: nothing final yet
        assert spark.sql("SELECT * FROM win_agg").count() == 0

        # advance event time past window end + the 10-minute watermark
        # → emit
        write_batch("b1", [("R2", BASE + 1000, 1.0)])
        q.processAllAvailable()
        write_batch("b2", [("R2", BASE + 1060, 2.0)])
        q.processAllAvailable()
        deadline = time.time() + 60
        while time.time() < deadline:
            emitted = spark.sql(
                "SELECT route_id, n_events, avg_speed FROM win_agg"
            ).collect()
            if emitted:
                break
            q.processAllAvailable()
        assert [(r["route_id"], r["n_events"], r["avg_speed"]) for r in emitted] == [
            ("R1", 2, 15.0)
        ]

        # this event's window closed long ago → dropped by the watermark
        write_batch("late", [("R1", BASE + 20, 99.0)])
        q.processAllAvailable()
        final = spark.sql(
            "SELECT route_id, n_events FROM win_agg WHERE route_id = 'R1'"
        ).collect()
        assert [(r["route_id"], r["n_events"]) for r in final] == [("R1", 2)]
    finally:
        q.stop()


def test_session_window_batch_twin_merges_by_gap(spark):
    """Native session windows: in-gap events merge (session end = last
    event + gap); a gap break starts a new session."""
    from gtfs_realtime_etl_spark.streaming.windows import session_windowed_counts

    rows = [
        ("R1", BASE + 0, 0.0),
        ("R1", BASE + 100, 0.0),   # within 5-min gap → same session
        ("R1", BASE + 1000, 0.0),  # > 300 s after previous → new session
        ("R2", BASE + 0, 0.0),
    ]
    out = (
        session_windowed_counts(_events_df(spark, rows))
        .orderBy("route_id", "session_start")
        .collect()
    )
    assert [(r["route_id"], r["n_events"]) for r in out] == [
        ("R1", 2),
        ("R1", 1),
        ("R2", 1),
    ]
    # session extends to last event + gap
    s0 = out[0]
    assert (s0["session_end"] - s0["session_start"]).total_seconds() == 100 + 300
    s1 = out[1]
    assert (s1["session_end"] - s1["session_start"]).total_seconds() == 300


def test_session_window_streaming_emits_closed_sessions(spark, tmp_path):
    """Streaming session windows emit once the watermark passes the
    session's (last event + gap) end."""
    from gtfs_realtime_etl_spark.streaming.windows import session_windowed_counts

    src_dir = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    schema = "route_id string, ts_sec long, speed double"
    spark.createDataFrame(
        [("R1", BASE + 0, 0.0), ("R1", BASE + 30, 0.0)], schema
    ).write.mode("overwrite").json(src_dir)

    stream = (
        spark.readStream.schema(schema)
        .json(src_dir)
        .selectExpr("route_id", "CAST(ts_sec AS TIMESTAMP) AS timestamp")
    )
    out = session_windowed_counts(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_win")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM sess_win").count() == 0

        # event far in the future pushes the watermark past the session
        # end (last event + the 5-minute gap)
        spark.createDataFrame([("R2", BASE + 10_000, 0.0)], schema).write.mode(
            "append"
        ).json(src_dir)
        q.processAllAvailable()
        q.processAllAvailable()
        emitted = spark.sql(
            "SELECT route_id, n_events FROM sess_win"
        ).collect()
        assert [(r["route_id"], r["n_events"]) for r in emitted] == [("R1", 2)]
    finally:
        q.stop()
