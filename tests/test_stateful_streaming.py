"""Custom stateful streaming operators (applyInPandasWithState) vs
their batch twins on identical event data."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.operators.sessions import sessionize
from tests.conftest import full_suite_only
from gtfs_realtime_etl_spark.streaming import stateful
from gtfs_realtime_etl_spark.streaming.stateful import (
    streaming_sessionize,
    streaming_vehicle_state,
)

GAP = 100  # seconds

EVENTS = [
    # user, ts_sec — u1: three sessions (gaps 150, 500); u2: one session
    ("u1", 1000), ("u1", 1050), ("u1", 1200), ("u1", 1250), ("u1", 1260),
    ("u1", 1760), ("u2", 2000), ("u2", 2050), ("u2", 2099),
]


@pytest.fixture(scope="module")
def event_stream_dir(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stateful")
    pdf = pd.DataFrame(EVENTS, columns=["user_id", "ts_sec"])
    sdf = spark.createDataFrame(pdf).withColumn(
        "event_time", F.timestamp_seconds("ts_sec")
    )
    path = str(base / "events")
    sdf.coalesce(1).write.parquet(path)
    return path


def _drain(stream_df, name: str, mode: str, spark):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name).toPandas()


@full_suite_only  # 125 s (default-lane --durations): 8-trigger watermark e2e
def test_streaming_sessionize_matches_batch(spark, event_stream_dir, monkeypatch):
    frames = (
        spark.readStream.schema("user_id STRING, ts_sec LONG, event_time TIMESTAMP")
        .parquet(event_stream_dir)
    )
    # A short gap; the idle timeout stays at its 30 minutes, so slow
    # micro-batches cannot close open sessions early.
    monkeypatch.setattr(stateful, "GAP_SECONDS", GAP)
    got = _drain(
        streaming_sessionize(frames), "closed_sessions", "append", spark
    ).sort_values(["key", "session_start"]).reset_index(drop=True)

    # Batch twin: sessionize, then keep every session except each key's
    # last (still open at end-of-stream, so the stream hasn't emitted it).
    batch = spark.createDataFrame(pd.DataFrame(EVENTS, columns=["user_id", "ts"]))
    s = sessionize(batch, gap=GAP)
    agg = (
        s.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .withColumn(
            "is_last",
            F.col("session_id")
            == F.max("session_id").over(Window.partitionBy("user_id")),
        )
        .filter(~F.col("is_last"))
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )

    assert len(got) == len(agg) == 2  # u1 closes 2 sessions, u2 none
    assert list(got["key"]) == list(agg["user_id"])
    assert list(got["session_start"]) == list(agg["session_start"])
    assert list(got["session_end"]) == list(agg["session_end"])
    assert list(got["n_events"]) == list(agg["n_events"])
    assert (got["duration_s"] == got["session_end"] - got["session_start"]).all()


def test_streaming_vehicle_state_latest_wins(spark, event_stream_dir):
    frames = (
        spark.readStream.schema("user_id STRING, ts_sec LONG, event_time TIMESTAMP")
        .parquet(event_stream_dir)
        .select(
            F.col("user_id").alias("vehicle_id"),
            F.concat(F.lit("trip_"), F.col("user_id")).alias("trip_id"),
            "ts_sec",
            "event_time",
        )
    )
    got = _drain(
        streaming_vehicle_state(frames), "vehicle_state", "update", spark
    )
    # one state row per vehicle per batch; final state = max ts, full count
    final = got.sort_values("ts_sec").groupby("vehicle_id").last()
    assert final.loc["u1", "ts_sec"] == 1760
    assert final.loc["u2", "ts_sec"] == 2099
    assert final.loc["u1", "n_updates"] == 6
    assert final.loc["u2", "n_updates"] == 3
    assert final.loc["u1", "trip_id"] == "trip_u1"
