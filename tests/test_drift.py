"""Streaming drift monitor (streaming/drift.py): planted shift is
flagged in the drifted window only, the streaming result equals the
batch backfill twin on the same rows, and the baseline is
partitioning-invariant."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.streaming import drift
from gtfs_realtime_etl_spark.streaming.drift import baseline_stats, feature_drift

T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def _rows():
    """3 five-minute windows × 60 events of one source.  Windows 0 and 1
    hover around the baseline mean (10.0 ± small deterministic wiggle);
    window 2 is shifted by +5 — an unmistakable drift."""
    rows = []
    for w in range(3):
        for i in range(60):
            ts = T0 + dt.timedelta(minutes=5 * w, seconds=5 * i)
            base = 10.0 + ((i * 7) % 11 - 5) * 0.1
            rows.append((ts, base + (5.0 if w == 2 else 0.0)))
    return rows


def _write(tmp_path, rows, n_files=3):
    src = tmp_path / "events"
    src.mkdir()
    per = (len(rows) + n_files - 1) // n_files
    for f in range(n_files):
        chunk = rows[f * per : (f + 1) * per]
        pq.write_table(
            pa.table(
                {
                    "src": pa.array(["a"] * len(chunk), pa.string()),
                    "ts": pa.array([r[0] for r in chunk], pa.timestamp("us")),
                    "value": pa.array([r[1] for r in chunk], pa.float64()),
                }
            ),
            str(src / f"part_{f}.parquet"),
        )
        import os

        os.utime(str(src / f"part_{f}.parquet"), (1_700_000_000 + f,) * 2)
    return str(src)


@pytest.fixture()
def baseline(spark):
    # frozen reference: the same un-drifted value distribution
    ref = spark.createDataFrame(
        [("a", 10.0 + ((i * 7) % 11 - 5) * 0.1) for i in range(600)],
        "src string, value double",
    )
    return baseline_stats(ref)


def test_drifted_window_flagged_and_batch_twin_matches(
    spark, tmp_path, baseline, monkeypatch
):
    src = _write(tmp_path, _rows())
    stream = spark.readStream.schema("src string, ts timestamp, value double").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    # 1-minute watermark: at end-of-stream (max ts = T0+14:55) the
    # watermark reaches T0+13:55 — windows 0 and 1 close and emit, the
    # still-open drifted window is covered via the batch twin below
    monkeypatch.setattr(drift, "WATERMARK", "1 minute")
    out = feature_drift(stream, baseline)
    q = (
        out.writeStream.format("memory")
        .queryName("drift_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only windows the watermark has CLOSED; the last
    # window stays open at end-of-stream, so assert on what was emitted
    got = {
        r["window"]["start"]: (r["n"], r["drifted"])
        for r in spark.table("drift_stream").collect()
    }
    assert got, "no windows emitted"

    batch = spark.read.parquet(src)
    exp = {
        r["window"]["start"]: (r["n"], r["drifted"])
        for r in feature_drift(batch, baseline).collect()
    }
    # every emitted window matches the batch backfill twin exactly
    for k, v in got.items():
        assert exp[k] == v, k
    # the un-drifted windows are not flagged; the drifted one is (in the
    # batch twin, which always sees all three windows)
    assert exp[T0] == (60, False)
    assert exp[T0 + dt.timedelta(minutes=10)][1] is True


def test_baseline_partitioning_invariant(spark):
    ref = spark.createDataFrame(
        [("a", float(i % 13)) for i in range(1000)], "src string, value double"
    )
    one = baseline_stats(ref.coalesce(1)).collect()[0]
    many = baseline_stats(ref.repartition(16)).collect()[0]
    assert one["mu"] == many["mu"] and one["sigma"] == many["sigma"]


def test_grouped_drift_per_source(spark, baseline, tmp_path):
    rows = []
    for i in range(200):
        ts = T0 + dt.timedelta(seconds=i)
        rows.append(("a", ts, 10.0 + ((i * 7) % 11 - 5) * 0.1))
        rows.append(("b", ts, 15.0 + ((i * 7) % 11 - 5) * 0.1))  # shifted source
    df = spark.createDataFrame(rows, "src string, ts timestamp, value double")
    base = baseline_stats(df.where(F.col("src") == "a"))
    base = base.unionAll(base.select(F.lit("b").alias("src"), "mu", "sigma"))
    # 200 s of events: one 5-minute window per source
    out = {r["src"]: r["drifted"] for r in feature_drift(df, base).collect()}
    assert out == {"a": False, "b": True}
