"""Multimodal column plumbing: feature extraction and metadata-only
profiling over binary payloads (stub codecs; the Spark-side batching,
schemas and scan pruning are the real thing under test)."""

from __future__ import annotations

from gtfs_realtime_etl_spark.operators.multimodal import (
    extract_features,
    media_stats,
    synthesize_media,
)


def _media(spark, n=20):
    docs = spark.createDataFrame(
        [(i, f"document body number {i} " + "x" * (50 + i)) for i in range(n)],
        "doc_id long, text string",
    )
    return synthesize_media(docs)


def test_extract_features_histogram_sums_to_one(spark):
    media = _media(spark)
    feats = extract_features(media).toPandas()
    assert len(feats) == 20
    for _, row in feats.iterrows():
        assert len(row["feature"]) == 16
        assert abs(sum(row["feature"]) - 1.0) < 1e-9  # histogram over all bytes
        assert row["n_bytes"] > 0


def test_media_stats_prunes_payload(spark, tmp_path):
    """media_stats over an at-rest media table must be metadata-only:
    the parquet scan's ReadSchema excludes the binary payload column
    (at 100 TB the payload IS the table — reading it for a profile
    turns a metadata query into a full-lake scan)."""
    import contextlib
    import io
    import re

    path = str(tmp_path / "media")
    _media(spark).write.parquet(path)
    stats_df = media_stats(spark.read.parquet(path))

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        stats_df.explain("formatted")
    reads = [l for l in buf.getvalue().splitlines() if "ReadSchema" in l]
    assert reads, buf.getvalue()
    read_cols = set(re.findall(r"(\w+):", reads[0].split("struct<")[1]))
    assert "payload" not in read_cols, reads[0]
    assert {"modality", "n_bytes", "width", "height", "duration_ms"} <= read_cols

    stats = stats_df.collect()
    assert stats[0]["n_items"] == 20
    assert stats[0]["avg_bytes"] > 0
