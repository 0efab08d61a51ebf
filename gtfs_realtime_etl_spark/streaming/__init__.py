"""Structured Streaming ingest (Kafka / HTTP / file sources), lake
maintenance (compaction), stateful operators, and watermarked windows."""

from gtfs_realtime_etl_spark.streaming.compaction import (
    compact_partition,
    compact_partitions,
)
from gtfs_realtime_etl_spark.streaming.drift import baseline_stats, feature_drift
from gtfs_realtime_etl_spark.streaming.joins import interval_join
from gtfs_realtime_etl_spark.streaming.ingest import (
    feed_pipeline,
    kafka_feed_frames,
    start_feed_file_stream,
    start_feed_http_stream,
    start_feed_kafka_stream,
    start_feed_quarantine_stream,
)
from gtfs_realtime_etl_spark.streaming.stateful import (
    streaming_sessionize,
    streaming_vehicle_state,
)
from gtfs_realtime_etl_spark.streaming.windows import windowed_counts

__all__ = [
    "baseline_stats",
    "compact_partition",
    "compact_partitions",
    "feature_drift",
    "feed_pipeline",
    "interval_join",
    "kafka_feed_frames",
    "start_feed_file_stream",
    "start_feed_http_stream",
    "start_feed_kafka_stream",
    "start_feed_quarantine_stream",
    "streaming_sessionize",
    "streaming_vehicle_state",
    "windowed_counts",
]
