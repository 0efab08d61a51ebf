"""Streaming Misra-Gries heavy hitters: cross-batch state, O(capacity)
summaries, and the mergeable-summaries guarantee on the final snapshot
regardless of how the stream is micro-batched."""

from __future__ import annotations

import os
from collections import Counter

import pytest

from gtfs_realtime_etl_spark.streaming import heavy_hitters
from gtfs_realtime_etl_spark.streaming.heavy_hitters import (
    streaming_heavy_hitters,
)

SCHEMA = "source string, token string"
CAP = 8
EMIT_K = 12

# Two groups with skewed streams: token w{i} appears (12 - i)^2 times.
ROWS = [
    (src, f"w{i:02d}")
    for src in ("web", "books")
    for i in range(12)
    for _ in range((12 - i) ** 2)
]


def _write_slices(tmp_path, rows, n_slices):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "toks"
    src.mkdir()
    per = (len(rows) + n_slices - 1) // n_slices
    for i in range(n_slices):
        chunk = rows[i * per : (i + 1) * per]
        pq.write_table(
            pa.table(
                {
                    "source": pa.array([r[0] for r in chunk]),
                    "token": pa.array([r[1] for r in chunk]),
                }
            ),
            str(src / f"slice_{i}.parquet"),
        )
        # Pin mtimes so micro-batch order is the slice order (see
        # test_stream_budget.py).
        os.utime(
            str(src / f"slice_{i}.parquet"),
            (1_700_000_000 + i, 1_700_000_000 + i),
        )
    return str(src)


@pytest.mark.parametrize("n_slices", [1, 4])
def test_streaming_mg_bounds_any_batching(spark, tmp_path, n_slices, monkeypatch):
    src = _write_slices(tmp_path, ROWS, n_slices)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    monkeypatch.setattr(heavy_hitters, "CAPACITY", CAP)
    monkeypatch.setattr(heavy_hitters, "EMIT_K", EMIT_K)
    out = streaming_heavy_hitters(stream)
    name = f"hh_{n_slices}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table(name).toPandas()

    exact = Counter((r[0], r[1]) for r in ROWS)
    n_per_group = Counter(r[0] for r in ROWS)
    for group in ("web", "books"):
        g = got[got["group"] == group]
        # The latest snapshot is the one with the group's lifetime count.
        n = n_per_group[group]
        snap = g[g["n_seen"] == n]
        assert len(snap) > 0, group
        assert len(snap) <= EMIT_K
        d = int(snap["est_upper"].iloc[0] - snap["est"].iloc[0])
        assert 0 <= d <= n // (CAP + 1)
        for _, row in snap.iterrows():
            c = exact[(group, row["token"])]
            assert row["est"] <= c <= row["est_upper"], dict(row)
        # Guaranteed heavy hitters are present in the final snapshot.
        toks = set(snap["token"])
        for (grp, tok), c in exact.items():
            if grp == group and c * (CAP + 1) > n:
                assert tok in toks, (tok, c, n)


def test_state_is_capacity_bounded(spark, tmp_path, monkeypatch):
    """The emitted snapshot (and hence the stored summary) never
    exceeds the capacity even when the vocabulary is much larger."""
    rows = [("web", f"u{i % 250:04d}") for i in range(500)] + [
        ("web", "hot")
    ] * 50
    src = _write_slices(tmp_path, rows, 2)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    monkeypatch.setattr(heavy_hitters, "CAPACITY", CAP)
    monkeypatch.setattr(heavy_hitters, "EMIT_K", 1000)
    out = streaming_heavy_hitters(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("hh_cap")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_cap"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("hh_cap").toPandas()
    assert got.groupby("n_seen").size().max() <= CAP
