"""End-to-end streaming ingest (protobuf feed files → lake) and the
compaction maintenance job (row conservation + file-count reduction)."""

from __future__ import annotations

import glob
import os

import pytest

from gtfs_realtime_etl_spark.sources.gtfs_rt import (
    encode_feed,
    parse_feed,
    try_parse_feed,
)
from gtfs_realtime_etl_spark.streaming.compaction import (
    compact_partition,
    compact_partitions,
    dates_in_range,
)
from gtfs_realtime_etl_spark.streaming.ingest import (
    _start_lake_sink,
    feed_pipeline,
    kafka_feed_frames,
    start_feed_file_stream,
    start_feed_quarantine_stream,
)


def _mk_records(tick: int, n: int = 5) -> list[dict]:
    base_ts = 1709650800 + tick * 30  # 2024-03-05 09:20 America/Toronto
    return [
        {
            "trip_id": f"T{i:03d}",
            "route_id": f"R{i % 4:02d}",
            "direction_id": str(i % 2),
            "vehicle_id": f"V{i:03d}",
            "latitude": 43.65 + i * 1e-4,
            "longitude": -79.38 - i * 1e-4,
            "bearing": 90.0,
            "speed": 12.5,
            "timestamp": base_ts + i,
        }
        for i in range(n)
    ]


def test_protobuf_roundtrip():
    recs = _mk_records(0)
    decoded = parse_feed(encode_feed(recs))
    assert len(decoded) == len(recs)
    for got, exp in zip(decoded, recs):
        assert got["trip_id"] == exp["trip_id"]
        assert got["route_id"] == exp["route_id"]
        assert got["direction_id"] == exp["direction_id"]
        assert got["vehicle_id"] == exp["vehicle_id"]
        assert got["timestamp"] == exp["timestamp"]
        assert got["latitude"] == pytest.approx(exp["latitude"], abs=1e-5)
        assert got["speed"] == pytest.approx(exp["speed"], abs=1e-5)


def test_protobuf_missing_fields():
    # HasField-style nulls: a vehicle with no trip and no position
    payload = encode_feed([{"vehicle_id": "V1", "timestamp": 1709650800}])
    (rec,) = parse_feed(payload)
    assert rec["trip_id"] is None
    assert rec["latitude"] is None
    assert rec["vehicle_id"] == "V1"


def test_stream_ingest_to_lake(spark, tmp_path):
    feed_dir = tmp_path / "feeds"
    feed_dir.mkdir()
    n_ticks, per_tick = 6, 5
    for tick in range(n_ticks):
        (feed_dir / f"feed_{tick:04d}.pb").write_bytes(
            encode_feed(_mk_records(tick, per_tick))
        )
    # a replayed fetch: tick 0's payload again under another file name
    (feed_dir / "feed_0000_replay.pb").write_bytes(
        encode_feed(_mk_records(0, per_tick))
    )

    lake_root = str(tmp_path / "lake")
    q = start_feed_file_stream(
        spark,
        str(feed_dir),
        lake_root,
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)

    lake = spark.read.parquet(lake_root)
    # each (vehicle, ts) lands once despite the replayed payload — the
    # watermark + dropDuplicates hardening
    assert lake.count() == n_ticks * per_tick
    assert lake.select("vehicle_id", "timestamp").distinct().count() == lake.count()
    cols = set(lake.columns)
    assert {"trip_id", "geohash", "geometry", "bbox", "year", "month", "day"} <= cols
    assert lake.filter("year = 2024 AND month = 3 AND day = 5").count() == lake.count()

    # the hot append is plain parquet: only compaction stamps the
    # GeoParquet footer (test_compaction_stamps_geoparquet_footer)
    import pyarrow.parquet as pq

    raw_files = glob.glob(os.path.join(lake_root, "**", "*.parquet"), recursive=True)
    assert raw_files
    for f in raw_files:
        assert b"geo" not in (pq.read_schema(f).metadata or {})


def test_quarantine_age_bound_drops_stale_payloads(spark, tmp_path):
    """DLQ max-event-age parity (construct.py:196-208): a bad payload
    whose file sat unprocessed past the 15-minute bound is abandoned, a
    fresh one is quarantined."""
    import time

    from gtfs_realtime_etl_spark.streaming.ingest import (
        start_feed_quarantine_stream,
    )

    feed_dir = tmp_path / "feeds"
    feed_dir.mkdir()
    good = encode_feed(_mk_records(0, 5))
    corrupt = good[: len(good) // 2] + b"\xff\xff\xff\xff\xff\xff\xff"
    (feed_dir / "bad_fresh.pb").write_bytes(corrupt)
    stale = feed_dir / "bad_stale.pb"
    stale.write_bytes(corrupt)
    hour_ago = time.time() - 3600
    os.utime(stale, (hour_ago, hour_ago))

    qdir = str(tmp_path / "quarantine")
    q = start_feed_quarantine_stream(
        spark,
        str(feed_dir),
        qdir,
        str(tmp_path / "ckpt_q"),
        available_now=True,
    )
    q.awaitTermination(120)
    assert spark.read.parquet(qdir).count() == 1  # stale payload abandoned


def test_corrupt_payload_quarantined_batch_succeeds(spark, tmp_path):
    """A poisonous payload must not fail ingest: good rows land in the
    lake, the bad payload lands in quarantine with a reason."""
    feed_dir = tmp_path / "feeds"
    feed_dir.mkdir()
    good = encode_feed(_mk_records(0, 5))
    corrupt = good[: len(good) // 2] + b"\xff\xff\xff\xff\xff\xff\xff"
    assert try_parse_feed(corrupt)[1] is not None  # genuinely undecodable
    (feed_dir / "feed_good.pb").write_bytes(good)
    (feed_dir / "feed_bad.pb").write_bytes(corrupt)

    lake_root = str(tmp_path / "lake")
    q = start_feed_file_stream(
        spark, str(feed_dir), lake_root, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)
    assert spark.read.parquet(lake_root).count() == 5  # good rows survived

    qdir = str(tmp_path / "quarantine")
    q2 = start_feed_quarantine_stream(
        spark, str(feed_dir), qdir, str(tmp_path / "ckpt_q"), available_now=True
    )
    q2.awaitTermination(120)
    bad = spark.read.parquet(qdir).toPandas()
    assert len(bad) == 1
    assert bad["reason"].iloc[0]  # non-empty failure reason
    assert bytes(bad["payload"].iloc[0]) == corrupt


def test_kafka_shaped_rate_stream_to_lake(spark, tmp_path):
    """End-to-end through the Kafka path's tail (``feed_pipeline`` →
    ``_start_lake_sink``, as ``start_feed_kafka_stream`` runs it) on a
    Kafka-shaped frame stream without a broker: the ``rate`` source's
    counter indexes, mod n, into real FeedMessage payloads, so every
    payload is replayed over and over."""
    import time

    from pyspark.sql import functions as F

    n_ticks, per_tick = 4, 5
    payloads = [encode_feed(_mk_records(t, per_tick)) for t in range(n_ticks)]
    table = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)],
        "idx long, payload binary",
    )
    frames = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "20")
        .load()
        .withColumn("idx", F.col("value") % F.lit(n_ticks))
        .join(F.broadcast(table), "idx")
        .select("payload")
    )
    assert frames.schema.simpleString() == "struct<payload:binary>"

    lake_root = str(tmp_path / "lake")
    q = _start_lake_sink(
        feed_pipeline(frames),
        lake_root,
        str(tmp_path / "ckpt"),
        trigger_seconds=1,
        available_now=False,
    )
    try:
        expected = n_ticks * per_tick
        deadline = time.time() + 120
        count = 0
        while time.time() < deadline:
            try:
                count = spark.read.parquet(lake_root).count()
            except Exception:  # lake not created yet
                count = 0
            if count >= expected:
                break
            time.sleep(1)
    finally:
        q.stop()
    # every distinct (vehicle, ts) lands exactly once despite payload
    # replay — the watermark+dropDuplicates hardening
    lake = spark.read.parquet(lake_root)
    assert lake.count() == expected
    assert {"trip_id", "geohash", "year", "month", "day"} <= set(lake.columns)
    assert lake.filter("year = 2024 AND month = 3 AND day = 5").count() == expected


def test_kafka_source_shape(spark):
    """kafka_feed_frames builds the production source; without the
    connector jar the failure is Spark's missing-data-source error (not
    an error in our pipeline wiring)."""
    try:
        frames = kafka_feed_frames(spark, "broker:9092", "gtfs-rt")
    except Exception as exc:  # pragma: no cover - connector absent here
        assert "kafka" in str(exc).lower()
        return
    # connector present: the frame schema must match the pipeline input
    assert frames.schema.simpleString() == "struct<payload:binary>"


def test_compaction_conserves_rows(spark, tmp_path):
    feed_dir = tmp_path / "feeds"
    feed_dir.mkdir()
    for tick in range(8):
        (feed_dir / f"feed_{tick:04d}.pb").write_bytes(
            encode_feed(_mk_records(tick, 10))
        )
    raw_root = str(tmp_path / "raw")
    q = start_feed_file_stream(
        spark, str(feed_dir), raw_root, str(tmp_path / "ckpt2"), available_now=True
    )
    q.awaitTermination(120)

    compacted_root = str(tmp_path / "compacted")
    n = compact_partition(
        spark, raw_root, compacted_root, 2024, 3, 5
    )
    raw_count = spark.read.parquet(raw_root).count()
    comp_count = spark.read.parquet(compacted_root).count()
    assert n == raw_count == comp_count  # row conservation
    files = glob.glob(
        os.path.join(compacted_root, "year=2024/month=3/day=5", "*.parquet")
    )
    assert len(files) == 1  # small files collapsed


def test_compaction_stamps_geoparquet_footer(spark, tmp_path):
    """S5: compacted files always carry spec'd GeoParquet `geo` footer
    metadata (reference writes GeoParquet, handler.py:146-152) and stay
    readable by Spark."""
    import json

    import pyarrow.parquet as pq

    feed_dir = tmp_path / "feeds"
    feed_dir.mkdir()
    (feed_dir / "feed.pb").write_bytes(encode_feed(_mk_records(0, 10)))
    raw_root = str(tmp_path / "raw")
    q = start_feed_file_stream(
        spark, str(feed_dir), raw_root, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)

    compacted = str(tmp_path / "compacted")
    n = compact_partition(spark, raw_root, compacted, 2024, 3, 5)
    files = glob.glob(
        os.path.join(compacted, "year=2024/month=3/day=5", "*.parquet")
    )
    assert len(files) == 1
    meta = pq.read_schema(files[0]).metadata
    geo = json.loads(meta[b"geo"])
    assert geo["version"] == "1.1.0"
    assert geo["primary_column"] == "geometry"
    col = geo["columns"]["geometry"]
    assert col["encoding"] == "WKB"
    assert col["geometry_types"] == ["Point"]
    assert col["covering"]["bbox"]["xmin"] == ["bbox", "xmin"]
    # dataset bbox matches the data (lon ~ -79.38.., lat ~ 43.65..)
    xmin, ymin, xmax, ymax = col["bbox"]
    assert -79.39 < xmin <= xmax < -79.37 and 43.64 < ymin <= ymax < 43.66
    # stamped file still reads fine in Spark, rows conserved
    assert spark.read.parquet(compacted).count() == n


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Stop/restart with the same checkpoint: already-committed feed
    files are not reprocessed (no duplicate rows), new files are —
    the delivery guarantee the reference's at-most-once lambda lacks."""
    feed_dir = tmp_path / "feeds"
    feed_dir.mkdir()
    (feed_dir / "feed_0.pb").write_bytes(encode_feed(_mk_records(0, 5)))
    lake_root = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")

    q1 = start_feed_file_stream(spark, str(feed_dir), lake_root, ckpt, available_now=True)
    q1.awaitTermination(120)
    assert spark.read.parquet(lake_root).count() == 5

    # second run, same checkpoint: one new file, old one must not replay
    (feed_dir / "feed_1.pb").write_bytes(encode_feed(_mk_records(1, 5)))
    q2 = start_feed_file_stream(spark, str(feed_dir), lake_root, ckpt, available_now=True)
    q2.awaitTermination(120)
    lake = spark.read.parquet(lake_root)
    assert lake.count() == 10
    assert lake.select("vehicle_id", "timestamp").distinct().count() == 10


def test_lake_sink_batch_retry_is_noop(spark, tmp_path):
    """foreachBatch retry semantics: re-delivering an already-committed
    (batch_id, data) — what Structured Streaming does after a failure
    between the append and the checkpoint commit — must NOT append
    again; a genuinely new batch id must."""
    from gtfs_realtime_etl_spark.streaming.ingest import (
        feed_pipeline,
        make_idempotent_lake_sink,
    )

    lake_root = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    frames = spark.createDataFrame(
        [(bytearray(encode_feed(_mk_records(0, 5))),)], "payload binary"
    )
    batch = feed_pipeline(frames)
    sink = make_idempotent_lake_sink(lake_root, ckpt)

    sink(batch, 0)
    assert spark.read.parquet(lake_root).count() == 5
    # the commit marker the benchmark's freshness metric reads
    assert os.path.exists(os.path.join(ckpt, "lake_commits", "0"))
    sink(batch, 0)  # retry of a committed batch: no-op
    assert spark.read.parquet(lake_root).count() == 5
    sink(batch, 1)  # new batch id: appends
    assert spark.read.parquet(lake_root).count() == 10


def test_stream_restart_after_lost_checkpoint_commit(spark, tmp_path):
    """Kill-and-restart shape: the stream commits the lake append but
    the checkpoint offset commit is lost (simulated by deleting the
    checkpoint's commits dir) — the restarted stream re-runs the batch,
    and the commit log must swallow the duplicate append."""
    import shutil

    feed_dir = tmp_path / "feeds"
    feed_dir.mkdir()
    (feed_dir / "feed_0.pb").write_bytes(encode_feed(_mk_records(0, 5)))
    lake_root = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")

    q1 = start_feed_file_stream(spark, str(feed_dir), lake_root, ckpt, available_now=True)
    q1.awaitTermination(120)
    assert spark.read.parquet(lake_root).count() == 5

    # lose the streaming engine's batch-commit record but keep offsets:
    # on restart the engine re-runs the last planned batch with the SAME
    # batch id (the foreachBatch retry contract)
    shutil.rmtree(os.path.join(ckpt, "commits"))
    q2 = start_feed_file_stream(spark, str(feed_dir), lake_root, ckpt, available_now=True)
    q2.awaitTermination(120)
    lake = spark.read.parquet(lake_root)
    assert lake.count() == 5  # no double-append
    assert lake.select("vehicle_id", "timestamp").distinct().count() == 5


def test_pinned_lake_schema_survives_drift(spark, tmp_path):
    """S8: a rogue file with an extra/changed column must not mutate the
    table schema — read_locations pins the canonical StructType (the
    reference needed a unified-schema workaround for this drift,
    compaction handler.py:86-102)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gtfs_realtime_etl_spark.schemas import LOCATIONS_LAKE
    from gtfs_realtime_etl_spark.sources.lake import read_locations

    feed_dir = tmp_path / "feeds"
    feed_dir.mkdir()
    (feed_dir / "feed.pb").write_bytes(encode_feed(_mk_records(0, 5)))
    lake_root = str(tmp_path / "lake")
    q = start_feed_file_stream(
        spark, str(feed_dir), lake_root, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)

    # plant an evolved file: extra column, missing most canonical ones
    part_dir = f"{lake_root}/year=2024/month=3/day=5"
    rogue = pa.Table.from_pandas(
        pd.DataFrame({"trip_id": ["T999"], "rogue_col": [1.5]})
    )
    pq.write_table(rogue, f"{part_dir}/part-rogue.parquet")

    lake = read_locations(spark, lake_root)
    assert [f.name for f in lake.schema.fields] == [
        f.name for f in LOCATIONS_LAKE.fields
    ]
    assert "rogue_col" not in lake.columns
    # the rogue file's rows surface with nulls, not a changed schema
    assert lake.count() == 6
    assert lake.filter("vehicle_id IS NULL").count() == 1


def test_compact_partitions_job(spark, tmp_path):
    """The scheduled job body at a fixed ``now``: the last closed day is
    compacted with its rows conserved; a day with no partition is
    skipped (PATH_NOT_FOUND); keys are ``YYYY-MM-DD``; a
    ``period="month"`` run compacts the whole month under a ``YYYY-MM``
    key."""
    import datetime as dt

    feed_dir = tmp_path / "feeds"
    feed_dir.mkdir()
    for tick in range(3):
        (feed_dir / f"feed_{tick}.pb").write_bytes(encode_feed(_mk_records(tick, 5)))
    raw_root = str(tmp_path / "raw")
    q = start_feed_file_stream(
        spark, str(feed_dir), raw_root, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)
    raw_count = spark.read.parquet(raw_root).count()
    assert raw_count == 15  # all on 2024-03-05; 2024-03-04 is absent

    daily = str(tmp_path / "daily")
    written = compact_partitions(
        spark, raw_root, daily, "America/Toronto", now=dt.datetime(2024, 3, 5, 1, 0)
    )
    assert written == {}
    written = compact_partitions(
        spark, raw_root, daily, "America/Toronto", now=dt.datetime(2024, 3, 6, 1, 0)
    )
    assert written == {"2024-03-05": raw_count}
    assert spark.read.parquet(daily).count() == raw_count
    assert not os.path.exists(os.path.join(daily, "year=2024/month=3/day=4"))

    monthly = str(tmp_path / "monthly")
    written = compact_partitions(
        spark,
        raw_root,
        monthly,
        "America/Toronto",
        period="month",
        now=dt.datetime(2024, 4, 2, 1, 0),
    )
    assert written == {"2024-03": raw_count}
    files = glob.glob(os.path.join(monthly, "year=2024/month=3", "*.parquet"))
    assert len(files) == 1


def test_dates_in_range():
    import datetime as dt

    now = dt.datetime(2024, 3, 5, 1, 0)
    days = dates_in_range(3, "America/Toronto", period="day", now=now)
    assert days == [dt.date(2024, 3, 4), dt.date(2024, 3, 3), dt.date(2024, 3, 2)]
    months = dates_in_range(2, "America/Toronto", period="month", now=now)
    assert months == [dt.date(2024, 2, 1), dt.date(2024, 1, 1)]

    # An aware ``now`` is dated in the agency's zone: 03:00 UTC is still
    # the previous evening in Edmonton (UTC-7).
    utc = dt.timezone.utc
    now = dt.datetime(2024, 3, 6, 3, 0, tzinfo=utc)
    assert dates_in_range(1, "America/Edmonton", now=now) == [dt.date(2024, 3, 4)]
    now = dt.datetime(2024, 3, 1, 3, 0, tzinfo=utc)
    assert dates_in_range(1, "America/Edmonton", period="month", now=now) == [
        dt.date(2024, 1, 1)
    ]
