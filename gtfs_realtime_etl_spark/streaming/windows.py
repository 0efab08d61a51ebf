"""Watermarked event-time window aggregation (streaming + batch twin).

The reference has no event-time windowing (each poll tick is an
independent batch); this is the standard Structured Streaming operator
a production feed pipeline layers on top: tumbling event-time
windows with a watermark bounding both state size and late-data
acceptance.  One function serves both modes — in batch it is the
backfill twin (identical grouping, no watermark), so results are
directly comparable in tests.

Scale notes: the only shuffle is the groupBy on (window, key); state in
streaming mode is O(open windows × live keys) and the watermark evicts
closed windows.  Append output mode emits each window exactly once,
when the watermark passes its end — the right contract for a
partitioned-lake sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: The grouping key, the event-time column and the averaged metric of a
#: feed's positions.
KEY_COL = "route_id"
TS_COL = "timestamp"
VALUE_COL = "speed"
#: Event-time watermark of the streaming forms and the session gap
#: (read when the frame is built).
WATERMARK = "10 minutes"
SESSION_GAP = "5 minutes"


def windowed_counts(events: DataFrame) -> DataFrame:
    """Per-(5-minute tumbling event-time window, key) counts and mean
    :data:`VALUE_COL`.  Streaming inputs get the watermark (late rows
    beyond it are dropped and state is evicted); batch inputs run the
    identical aggregation over everything — the backfill twin."""
    src = events
    if events.isStreaming:
        src = events.withWatermark(TS_COL, WATERMARK)
    win = F.window(F.col(TS_COL), "5 minutes")
    return (
        src.groupBy(win.alias("win"), F.col(KEY_COL))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.avg(VALUE_COL).alias(f"avg_{VALUE_COL}"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            KEY_COL,
            "n_events",
            f"avg_{VALUE_COL}",
        )
    )


def session_windowed_counts(events: DataFrame) -> DataFrame:
    """Native gap-based session windows (``F.session_window``): events
    of a key closer than :data:`SESSION_GAP` merge into one session; the
    watermark closes (and evicts) a session once no more in-gap events
    can arrive.

    Complements streaming/stateful.streaming_sessionize, which builds
    the same sessions with applyInPandasWithState: use THIS when
    count/min/max per session is enough (state lives JVM-side, no
    Python worker round-trip); use the stateful form when the
    per-session logic outgrows built-in aggregates.  Batch inputs run
    the identical grouping — the backfill twin."""
    src = events
    if events.isStreaming:
        src = events.withWatermark(TS_COL, WATERMARK)
    return (
        src.groupBy(
            F.session_window(F.col(TS_COL), SESSION_GAP).alias("win"),
            F.col(KEY_COL),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            KEY_COL,
            "n_events",
        )
    )
