"""Watermarked stream-stream interval join (+ batch backfill twin).

The last Structured Streaming operator class the engine needed: joining
two event streams on a key within an event-time interval (clicks that
led to a purchase within the attribution window, sensor pairs within a
tolerance, …).  Spark buffers both sides in state; the watermark plus
the two-sided time-bound condition lets it evict rows once no future
match is possible, so state is O(events inside the interval window),
not O(stream).

The same function runs on batch inputs (identical join condition, no
watermarks) — the backfill twin used for equivalence tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
) -> DataFrame:
    """Rows of ``left`` inner-joined to ``right`` rows with the same
    ``on`` key whose event time lies in ``[left_ts, left_ts + 1 hour]``.
    Timestamp columns must be TimestampType.

    Streaming inputs get 1-hour watermarks on both sides (required by
    Spark for state eviction in stream-stream joins); batch inputs run
    the same condition directly.  Column names are suffixed ``_l`` /
    ``_r``.
    """
    l = left.select(
        F.col(on).alias("_k"), *[F.col(c).alias(f"{c}_l") for c in left.columns if c != on]
    )
    r = right.select(
        F.col(on).alias("_kr"), *[F.col(c).alias(f"{c}_r") for c in right.columns if c != on]
    )
    lt, rt = f"{left_ts}_l", f"{right_ts}_r"
    if left.isStreaming:
        l = l.withWatermark(lt, "1 hour")
    if right.isStreaming:
        r = r.withWatermark(rt, "1 hour")
    cond = (
        (l["_k"] == r["_kr"])
        & (r[rt] >= l[lt])
        & (r[rt] <= l[lt] + F.expr("INTERVAL 1 HOUR"))
    )
    return l.join(r, cond, "inner").select(
        F.col("_k").alias(on),
        *[c for c in l.columns if c not in ("_k",)],
        *[c for c in r.columns if c not in ("_kr",)],
    )
