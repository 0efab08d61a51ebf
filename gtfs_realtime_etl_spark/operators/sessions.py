"""Gap-based sessionization — assign session ids to per-key event
streams when the inter-event gap exceeds a threshold.

Beyond the reference surface (its stream has no stateful ops —
SURVEY.md §2.7 T5); this is the batch/backfill form of what
``streaming/`` does with watermarks, and a staple of event-pipeline
feature engineering.

Plan shape: ONE shuffle (window partitioned by the key), then two
narrow window passes over the same partitioning — Spark reuses the
exchange, so lag() + running-sum cost a single sort per partition.
Scales linearly in events-per-key; skewed keys are bounded by the
window sort, not a join blowup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: The per-user key and event-time column sessions are cut on.
KEY_COL = "user_id"
TS_COL = "ts"


def sessionize(
    events: DataFrame,
    gap: int | float = 1800,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Add a ``session_id`` column (1-based per :data:`KEY_COL`, in time
    order).

    :data:`TS_COL` must be numeric (epoch seconds/ns) or timestamp with
    subtractable semantics; ``gap`` is in the same unit as the
    difference.  ``order_cols`` break timestamp ties deterministically.
    """
    order = [F.asc(TS_COL)] + [F.asc(c) for c in (order_cols or [])]
    w = Window.partitionBy(KEY_COL).orderBy(*order)
    prev_ts: Column = F.lag(TS_COL).over(w)
    is_new = (
        prev_ts.isNull() | ((F.col(TS_COL) - prev_ts) > F.lit(gap))
    ).cast("int")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return events.withColumn("session_id", F.sum(is_new).over(run))


def session_stats(
    events: DataFrame,
    gap: int | float = 1800,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """One row per (key, session): event count, start ts, duration."""
    s = sessionize(events, gap=gap, order_cols=order_cols)
    return s.groupBy(KEY_COL, "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(TS_COL).alias("session_start"),
        (F.max(TS_COL) - F.min(TS_COL)).alias("duration"),
    )
