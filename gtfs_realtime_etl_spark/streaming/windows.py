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

#: The grouping key and the event-time column of a feed's positions.
KEY_COL = "route_id"
TS_COL = "timestamp"


def windowed_counts(
    events: DataFrame,
    watermark: str = "10 minutes",
    agg_col: str | None = None,
) -> DataFrame:
    """Per-(5-minute tumbling event-time window, key) counts, optionally
    with a mean over ``agg_col``.  Streaming inputs get the watermark
    (late rows beyond it are dropped and state is evicted); batch inputs
    run the identical aggregation over everything — the backfill twin."""
    src = events
    if events.isStreaming:
        src = events.withWatermark(TS_COL, watermark)
    win = F.window(F.col(TS_COL), "5 minutes")
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if agg_col is not None:
        aggs.append(F.avg(agg_col).alias(f"avg_{agg_col}"))
    return (
        src.groupBy(win.alias("win"), F.col(KEY_COL))
        .agg(*aggs)
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            KEY_COL,
            "n_events",
            *([f"avg_{agg_col}"] if agg_col is not None else []),
        )
    )


def session_windowed_counts(
    events: DataFrame,
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Native gap-based session windows (``F.session_window``): events
    of a key closer than ``gap`` merge into one session; the watermark
    closes (and evicts) a session once no more in-gap events can
    arrive.

    Complements streaming/stateful.streaming_sessionize, which builds
    the same sessions with applyInPandasWithState: use THIS when
    count/min/max per session is enough (state lives JVM-side, no
    Python worker round-trip); use the stateful form when the
    per-session logic outgrows built-in aggregates.  Batch inputs run
    the identical grouping — the backfill twin."""
    src = events
    if events.isStreaming:
        src = events.withWatermark(TS_COL, watermark)
    return (
        src.groupBy(
            F.session_window(F.col(TS_COL), gap).alias("win"), F.col(KEY_COL)
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            KEY_COL,
            "n_events",
        )
    )
