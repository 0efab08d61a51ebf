"""Streaming flagship end-to-end (the reference's E1→E3 loop as one
test): protobuf feed files → streaming decode/enrich → partitioned
lake → ``schedule_deviation`` + ``stop_reliability`` over the landed
lake, asserted against the BATCH pipeline run on the identical raw
positions (reference: poller handler.py E1 ingest → analysis notebooks
E3; here both legs share one engine so the comparison is exact).

Every tenth position is fed twice, as a poller re-fetching an
unchanged feed would; both legs drop repeated (vehicle_id, timestamp)
reports, the streaming leg through the ingest pipeline's own dedup.

Coordinates are quantized to float32 up front: the GTFS-RT wire format
carries lat/lon as 32-bit floats (gtfs_rt.py encode_feed), so without
the quantization the streaming leg would see nudged positions and the
dwithin radius test could disagree at the boundary."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from gtfs_realtime_etl_spark.operators.ingest import enrich_positions
from gtfs_realtime_etl_spark.operators.schedule_deviation import (
    schedule_deviation,
    stop_reliability,
)
from gtfs_realtime_etl_spark.schemas import VEHICLE_POSITIONS_RAW
from gtfs_realtime_etl_spark.sources.gtfs_rt import encode_feed
from gtfs_realtime_etl_spark.sources.gtfs_static import load_gtfs_static
from gtfs_realtime_etl_spark.sources.lake import (
    read_locations,
    write_locations_batch,
)
from gtfs_realtime_etl_spark.streaming.ingest import start_feed_file_stream
from tests.gtfs_fixtures import generate

_FEED_CHUNK = 500  # records per synthetic FeedMessage file


@pytest.fixture(scope="module")
def legs(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("flagship_stream_e2e")
    fx = generate(str(base))
    raw = fx.raw_positions.copy()
    for c in ("latitude", "longitude", "bearing", "speed"):
        raw[c] = raw[c].astype(np.float32).astype(float)
    raw = pd.concat([raw, raw.iloc[::10]], ignore_index=True)

    # Batch leg: enrich -> dedup -> lake (the cell-8 batch path).
    batch_lake = str(base / "batch_lake")
    raw_df = spark.createDataFrame(raw, schema=VEHICLE_POSITIONS_RAW)
    enriched = enrich_positions(raw_df)
    deduped = enriched.dropDuplicates(["vehicle_id", "timestamp"])
    dedup_dropped = enriched.count() - deduped.count()
    write_locations_batch(deduped, batch_lake)

    # Streaming leg: the same rows as protobuf FeedMessage files (the
    # shape the reference's poller writes), drained availableNow
    # through decode -> enrich -> idempotent partitioned sink.
    feeds = base / "feeds"
    feeds.mkdir()
    records = raw.to_dict("records")
    for i in range(0, len(records), _FEED_CHUNK):
        chunk = [
            {k: (None if pd.isna(v) else v) for k, v in r.items()}
            for r in records[i : i + _FEED_CHUNK]
        ]
        (feeds / f"feed_{i:06d}.pb").write_bytes(encode_feed(chunk))
    stream_lake = str(base / "stream_lake")
    q = start_feed_file_stream(
        spark,
        str(feeds),
        stream_lake,
        str(base / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)
    return {
        "fx": fx,
        "batch_lake": batch_lake,
        "stream_lake": stream_lake,
        "dedup_dropped": dedup_dropped,
    }


def _flagship_frame(spark, lake_root: str, gtfs_dir: str):
    tabs = load_gtfs_static(spark, gtfs_dir)
    dev = schedule_deviation(
        read_locations(spark, lake_root),
        tabs["routes"],
        tabs["trips"],
        tabs["stops"],
        tabs["stop_times"],
    )
    return stop_reliability(dev).toPandas()


def test_lakes_hold_identical_rows(spark, legs):
    """E1 parity first: the streaming-landed lake is row-identical to
    the batch-landed lake (same keys, same coordinates, same layout),
    with the fed repeats dropped on both sides."""
    assert legs["dedup_dropped"] > 0, "the fixture holds no repeats to drop"
    cols = ["trip_id", "vehicle_id", "timestamp", "longitude", "latitude"]

    def key_rows(root):
        df = read_locations(spark, root).select(*cols).toPandas()
        rows = [tuple(r) for r in df.itertuples(index=False)]
        # trip_id may be NULL (the noise pings) — sort None low.
        return sorted(
            rows,
            key=lambda t: tuple((x is not None, x or 0) for x in t),
        )

    b, s = key_rows(legs["batch_lake"]), key_rows(legs["stream_lake"])
    assert len(b) > 1000
    assert b == s


def test_streaming_flagship_equals_batch_flagship(spark, legs):
    got = _flagship_frame(spark, legs["stream_lake"], legs["fx"].gtfs_dir)
    exp = _flagship_frame(spark, legs["batch_lake"], legs["fx"].gtfs_dir)
    assert len(exp) > 50, "batch flagship produced a trivial result"

    key = ["stop_id", "stop_lon", "stop_lat"]
    g = got.sort_values(key).reset_index(drop=True)
    e = exp.sort_values(key).reset_index(drop=True)
    assert len(g) == len(e)
    assert (g["stop_id"].values == e["stop_id"].values).all()
    assert (g["count"].values == e["count"].values).all()
    # Same engine, same rows: double aggregates may still differ in
    # summation order across the two lakes' file splits — ulp-level
    # tolerance only.
    for col in ("avg_diff", "stddev_diff", "reliability"):
        gm, em = g[col].notna(), e[col].notna()
        assert (gm == em).all()
        assert g[col][gm].values == pytest.approx(
            e[col][em].values, abs=1e-9
        )


def test_flagship_invariant_under_compaction(spark, legs):
    """E1→S9→E3: compacting every day partition of the streaming-landed
    lake (zstd rewrite, coalesced files, in-partition sort) must leave
    the flagship result unchanged — compaction is a layout move, never
    a semantic one."""
    import glob
    import os
    import re

    from gtfs_realtime_etl_spark.streaming.compaction import (
        compact_partition,
    )

    src = legs["stream_lake"]
    dst = src + "_compacted"
    parts = sorted(glob.glob(os.path.join(src, "year=*/month=*/day=*")))
    assert parts, "streaming lake has no day partitions"
    total = 0
    for p in parts:
        m = re.search(r"year=(\d+)/month=(\d+)/day=(\d+)", p)
        total += compact_partition(
            spark, src, dst, int(m.group(1)), int(m.group(2)), int(m.group(3))
        )
    assert total == read_locations(spark, src).count()

    got = _flagship_frame(spark, dst, legs["fx"].gtfs_dir)
    exp = _flagship_frame(spark, src, legs["fx"].gtfs_dir)
    key = ["stop_id", "stop_lon", "stop_lat"]
    g = got.sort_values(key).reset_index(drop=True)
    e = exp.sort_values(key).reset_index(drop=True)
    assert len(g) == len(e) > 50
    assert (g["stop_id"].values == e["stop_id"].values).all()
    assert (g["count"].values == e["count"].values).all()
    for col in ("avg_diff", "stddev_diff", "reliability"):
        gm, em = g[col].notna(), e[col].notna()
        assert (gm == em).all()
        assert g[col][gm].values == pytest.approx(
            e[col][em].values, abs=1e-9
        )
