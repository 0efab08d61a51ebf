"""Structured Streaming ingest: feed payloads → enriched partitioned lake.

Maps the reference's scheduler+lambda micro-batch loop (SURVEY.md §2.7:
EventBridge rate / Step Functions sub-minute loop → poll → enrich →
parquet append) onto the native Spark construct:

    readStream (feed frames) → decode → enrich → foreachBatch append

- Trigger cadence replaces the scheduler: ``trigger(processingTime=
  "30 seconds")`` natively does what the reference needs a Step
  Functions Map loop for (construct.py:26-110).
- ``foreachBatch`` + hive-partitioned append replaces the per-tick
  lambda parquet upload; the empty-batch short-circuit mirrors
  handler.py:82-84.
- Checkpointing gives at-least-once delivery — strictly stronger than
  the reference's at-most-once (retries disabled, DLQ on failure) — and
  the batch-id commit log of :func:`once_per_batch` upgrades
  the lake append to effectively-once under batch retry.
- Beyond-reference hardening (flagged in SURVEY §2.7 T5): every path
  drops repeated (vehicle_id, timestamp) reports, behind an event-time
  watermark when streaming.

One pipeline, fed by three frame sources (each yields ``payload
binary``, one FeedMessage per row):

- :func:`kafka_feed_frames` — the production path (BASELINE approach:
  "Structured Streaming + Kafka/Kinesis source"): one feed payload per
  Kafka record value, from the latest offsets.
- :func:`start_feed_http_stream` — the reference's poll loop as the
  native ``gtfs_rt`` source (sources/gtfs_rt_source.py): one HTTP GET
  per micro-batch, spooled for replay.
- the ``binaryFile`` stream in :func:`start_feed_file_stream` — one
  payload per file, the shape the reference's fetch lands in S3.

The lake sink here and the fold sink of ``streaming/dedup_fold.py``
commit through :func:`once_per_batch`; they and the quarantine stream
start through :func:`start_with_trigger`.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from gtfs_realtime_etl_spark.operators.ingest import enrich_positions
from gtfs_realtime_etl_spark.sources.gtfs_rt import (
    decode_feed_frames,
    quarantine_feed_frames,
)
from gtfs_realtime_etl_spark.sources.gtfs_rt_source import register
from gtfs_realtime_etl_spark.sources.lake import write_locations_batch


#: How late (event time) a repeated (vehicle_id, timestamp) report may
#: arrive and still be dropped; also bounds the streaming dedup state.
DEDUP_WATERMARK = "10 minutes"
#: The quarantine's processing-time bound on a payload's age: the
#: reference DLQ's ``maximum_event_age`` (etl/infrastructure/construct.py:196-208).
MAX_EVENT_AGE_MINUTES = 15


def feed_pipeline(frames: DataFrame) -> DataFrame:
    """payload frames → enriched position rows, one per (vehicle_id,
    timestamp) (works batch or stream)."""
    positions = decode_feed_frames(frames)
    enriched = enrich_positions(positions)
    if enriched.isStreaming:
        enriched = enriched.withWatermark("timestamp", DEDUP_WATERMARK)
    return enriched.dropDuplicates(["vehicle_id", "timestamp"])


def kafka_feed_frames(
    spark: SparkSession, bootstrap_servers: str, topic: str
) -> DataFrame:
    """Feed frames from a Kafka topic, starting at its latest offsets —
    one protobuf FeedMessage per record value (the production source;
    replaces the reference's EventBridge/SFN poll loop,
    construct.py:26-110,188-221).

    Requires the Kafka connector on the classpath
    (``--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark
    version>``); without it ``load()`` raises "Failed to find data
    source: kafka".
    """
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", "latest")
        .load()
        .select(F.col("value").alias("payload"))
    )


def once_per_batch(
    marker_dir: str, body: Callable[[DataFrame, int], None]
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function that runs ``body`` at most once per batch
    id, made idempotent under batch RETRY via a batch-id commit log.

    Structured Streaming's contract is at-least-once for foreachBatch: a
    failure between the body's writes and the checkpoint commit
    re-delivers the SAME (batch_id, data) on restart.  The step skips an
    empty batch (handler.py:82-84), skips a batch whose marker
    ``<marker_dir>/<batch_id>`` exists, runs ``body``, then creates the
    marker — written through the Hadoop FileSystem API so any scheme
    the checkpoint supports works.  The unguarded window shrinks to a
    crash BETWEEN the body's completion and marker creation
    (milliseconds); closing it entirely needs a transactional table
    format (Delta/Iceberg), where the batch id rides in the table's own
    commit log.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        marker = spark._jvm.org.apache.hadoop.fs.Path(f"{marker_dir}/{batch_id}")
        fs = marker.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(marker):  # retried batch: already fully applied
            return
        body(batch_df, batch_id)
        fs.mkdirs(marker.getParent())
        fs.create(marker, True).close()

    return sink


def start_with_trigger(
    writer: DataStreamWriter, trigger_seconds: int, available_now: bool
) -> StreamingQuery:
    """The one trigger rule: ``available_now`` drains the backlog and
    stops (the testable mode); otherwise a micro-batch every
    ``trigger_seconds`` (the reference's poll cadence)."""
    if available_now:
        return writer.trigger(availableNow=True).start()
    return writer.trigger(processingTime=f"{trigger_seconds} seconds").start()


def make_idempotent_lake_sink(lake_root: str, checkpoint_dir: str):
    """foreachBatch function appending into the hive-partitioned lake,
    once per batch id (markers under ``<checkpoint>/lake_commits/``)."""
    return once_per_batch(
        f"{checkpoint_dir}/lake_commits",
        lambda batch_df, _: write_locations_batch(batch_df, lake_root),
    )


def _start_lake_sink(
    enriched: DataFrame,
    lake_root: str,
    checkpoint_dir: str,
    trigger_seconds: int,
    available_now: bool,
) -> StreamingQuery:
    """Common tail of every ingest stream: idempotent foreachBatch append
    into the hive-partitioned lake."""
    writer = (
        enriched.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(make_idempotent_lake_sink(lake_root, checkpoint_dir))
    )
    return start_with_trigger(writer, trigger_seconds, available_now)


def _feed_files(spark: SparkSession, feed_dir: str) -> DataFrame:
    return (
        spark.readStream.format("binaryFile")
        # streaming sources need the schema up front (binaryFile's is fixed)
        .schema(
            "path STRING, modificationTime TIMESTAMP, length LONG, content BINARY"
        )
        .load(feed_dir)
    )


def start_feed_file_stream(
    spark: SparkSession,
    feed_dir: str,
    lake_root: str,
    checkpoint_dir: str,
    trigger_seconds: int = 30,
    available_now: bool = False,
) -> StreamingQuery:
    """Stream feed payload files (one protobuf FeedMessage per file —
    the shape the reference's poller writes) into the lake.

    ``available_now=True`` drains the backlog and stops — the testable
    mode; otherwise runs at the reference's poll cadence.  Undecodable
    payloads are skipped here; run :func:`start_feed_quarantine_stream`
    on the same directory to capture them (DLQ analog).
    """
    frames = _feed_files(spark, feed_dir).select(F.col("content").alias("payload"))
    enriched = feed_pipeline(frames)
    return _start_lake_sink(
        enriched, lake_root, checkpoint_dir, trigger_seconds, available_now
    )


def with_max_event_age(frames: DataFrame, minutes: int) -> DataFrame:
    """Drop feed files older than ``minutes`` at processing time: a
    payload that sat unprocessed past the bound is abandoned rather
    than quarantined forever.  Applies to any binaryFile-shaped frame
    source (needs the ``modificationTime`` column).
    ``current_timestamp()`` is fixed per micro-batch, so the cutoff is
    consistent within a batch."""
    return frames.filter(
        F.col("modificationTime")
        >= F.current_timestamp() - F.expr(f"INTERVAL {int(minutes)} MINUTES")
    )


def start_feed_quarantine_stream(
    spark: SparkSession,
    feed_dir: str,
    quarantine_dir: str,
    checkpoint_dir: str,
    trigger_seconds: int = 30,
    available_now: bool = False,
) -> StreamingQuery:
    """Side-channel query: payloads the decoder rejects land in a
    parquet quarantine with their failure reason, while the main ingest
    keeps flowing — the reference's DLQ (construct.py:186) as a second
    reader over the same source (each query has its own checkpoint, so
    delivery guarantees are independent).  Payloads older than
    :data:`MAX_EVENT_AGE_MINUTES` are abandoned (see
    :func:`with_max_event_age`)."""
    raw = with_max_event_age(_feed_files(spark, feed_dir), MAX_EVENT_AGE_MINUTES)
    bad = quarantine_feed_frames(raw.select(F.col("content").alias("payload")))
    writer = (
        bad.writeStream.format("parquet")
        .outputMode("append")
        .option("path", quarantine_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    return start_with_trigger(writer, trigger_seconds, available_now)


def start_feed_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    lake_root: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Kafka topic → decode → enrich → partitioned lake (the BASELINE
    production shape), a micro-batch every 30 s."""
    frames = kafka_feed_frames(spark, bootstrap_servers, topic)
    return _start_lake_sink(
        feed_pipeline(frames), lake_root, checkpoint_dir, 30, available_now=False
    )


def start_feed_http_stream(
    spark: SparkSession,
    url: str,
    spool_dir: str,
    lake_root: str,
    checkpoint_dir: str,
    trigger_seconds: int = 30,
    max_ticks: int | None = None,
    headers: dict[str, str] | None = None,
) -> StreamingQuery:
    """HTTP poll → decode → enrich → partitioned lake via the native
    ``gtfs_rt`` streaming source (sources/gtfs_rt_source.py) — the
    engine-managed form of the reference's lambda poll loop
    (etl/runtime/handler.py:43-54): offsets live in the streaming
    checkpoint, every payload is spooled for deterministic replay, and
    the downstream pipeline is byte-identical to the Kafka/file paths.
    ``max_ticks`` bounds the poll (tests/backfills); None polls
    forever at the trigger cadence."""
    register(spark)
    reader = (
        spark.readStream.format("gtfs_rt")
        .option("url", url)
        .option("spool_dir", spool_dir)
    )
    if max_ticks is not None:
        reader = reader.option("max_ticks", str(max_ticks))
    if headers:
        import json as _json

        reader = reader.option("headers", _json.dumps(headers))
    frames = reader.load().select("payload")
    return _start_lake_sink(
        feed_pipeline(frames), lake_root, checkpoint_dir, trigger_seconds,
        available_now=False,
    )
