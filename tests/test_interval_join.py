"""Stream-stream interval join: streaming result must equal the batch
twin over the same events, and state-eviction wiring (watermarks on
both sides) must be accepted by Spark's unsupported-operation checker."""

from __future__ import annotations

import pandas as pd

from gtfs_realtime_etl_spark.streaming.joins import interval_join

BASE = 1709650800


def _df(spark, rows):
    pdf = pd.DataFrame(rows, columns=["user_id", "ts_sec", "tag"])
    df = spark.createDataFrame(pdf)
    return df.select(
        "user_id", df.ts_sec.cast("timestamp").alias("ts"), "tag"
    )


def _clicks_purchases(spark):
    clicks = _df(
        spark,
        [
            ("u1", BASE + 10, "c1"),
            ("u1", BASE + 100, "c2"),
            ("u2", BASE + 50, "c3"),
            ("u3", BASE + 10, "c4"),
        ],
    )
    purchases = _df(
        spark,
        [
            ("u1", BASE + 70, "p1"),   # joins c1 (gap 60); c2 is later than p1
            ("u2", BASE + 2000, "p2"),  # joins c3 (gap 1950 < 3600)
            ("u3", BASE + 9000, "p3"),  # no click within window
        ],
    )
    return clicks, purchases


def test_interval_join_batch_semantics(spark):
    clicks, purchases = _clicks_purchases(spark)
    out = interval_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts"
    ).toPandas()
    pairs = sorted(zip(out["tag_l"], out["tag_r"]))
    assert pairs == [("c1", "p1"), ("c3", "p2")]


def test_interval_join_stream_stream_matches_batch(spark, tmp_path):
    clicks, purchases = _clicks_purchases(spark)
    cdir, pdir = str(tmp_path / "c"), str(tmp_path / "p")
    clicks.write.json(cdir)
    purchases.write.json(pdir)
    schema = "user_id string, ts timestamp, tag string"
    cs = spark.readStream.schema(schema).json(cdir)
    ps = spark.readStream.schema(schema).json(pdir)
    out = interval_join(cs, ps, on="user_id", left_ts="ts", right_ts="ts")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("ij")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["tag_l"], r["tag_r"])
        for r in spark.sql("SELECT tag_l, tag_r FROM ij").collect()
    )
    assert got == [("c1", "p1"), ("c3", "p2")]
