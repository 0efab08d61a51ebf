"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference stream has no stateful ops (SURVEY.md §2.7 T5: each poll
tick is independent); these are the beyond-reference extensions a
production event pipeline needs, implemented on Spark's arbitrary-state
API so the state machine is explicit and testable:

- :func:`streaming_sessionize` — gap-based session windows per key,
  emitting one row per CLOSED session (a session closes when the gap
  since its last event exceeds :data:`GAP_SECONDS`, decided by the event
  stream itself or by watermark-driven timeout for idle keys).
- :func:`streaming_vehicle_state` — per-vehicle latest-state tracker
  (the streaming form of the W1 "latest ping wins" dedup): keeps the
  newest position per vehicle across micro-batches and emits changes.

State layout: one compact state row per key — scale is O(live keys),
not O(events); the shuffle is the same single ``groupBy(key)`` exchange
any stateful op pays, and Arrow batches keep the Python boundary
vectorized (one call per key-group per micro-batch, not per row).

Batch-mode equivalence: ``operators/sessions.sessionize`` is the
backfill twin of :func:`streaming_sessionize`; tests drive both over
the same events and compare closed sessions.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

SESSION_OUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("session_start", LongType()),  # epoch seconds
        StructField("session_end", LongType()),
        StructField("n_events", LongType()),
        StructField("duration_s", LongType()),
    ]
)

# state: running session for one key
_SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start", LongType()),
        StructField("last", LongType()),
        StructField("n", LongType()),
    ]
)


#: Event-time gap (seconds) that closes a session.
GAP_SECONDS = 1800
#: Processing time a key may sit idle before its open session closes.
IDLE_TIMEOUT_MS = 1_800_000


def _close(key: str, start: int, last: int, n: int) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "key": [key],
            "session_start": [start],
            "session_end": [last],
            "n_events": [n],
            "duration_s": [last - start],
        }
    )


def streaming_sessionize(events: DataFrame) -> DataFrame:
    """Gap-based session windows per ``user_id`` over a stream; emits
    closed sessions.

    ``events`` must be a streaming DataFrame with an event-time
    timestamp column ``event_time`` (used for a 30-minute watermark)
    and an epoch-seconds ``ts_sec``.  Sessions close when an event for
    the key arrives more than :data:`GAP_SECONDS` later, or when the
    processing-time timeout (:data:`IDLE_TIMEOUT_MS`) fires for an idle
    key.  Both are read when the stream is built.
    """
    gap_seconds, timeout_ms = GAP_SECONDS, IDLE_TIMEOUT_MS

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (k,) = key
        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield _close(k, start, last, n)
            return

        ts = sorted(int(t) for pdf in pdfs for t in pdf["ts_sec"])
        if state.exists:
            start, last, n = state.get
        else:
            start = last = ts[0]
            n = 0
        out = []
        for t in ts:
            if t - last > gap_seconds:
                out.append(_close(k, start, last, n))
                start, n = t, 0
            last = max(last, t)
            n += 1
        state.update((start, last, n))
        state.setTimeoutDuration(timeout_ms)
        if out:
            yield pd.concat(out, ignore_index=True)

    keyed = (
        events.withColumn("key", F.col("user_id").cast("string"))
        .withWatermark("event_time", "30 minutes")
        .groupBy("key")
    )
    return keyed.applyInPandasWithState(
        fn,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


VEHICLE_STATE_SCHEMA = StructType(
    [
        StructField("vehicle_id", StringType()),
        StructField("trip_id", StringType()),
        StructField("ts_sec", LongType()),
        StructField("n_updates", LongType()),
    ]
)

_VEHICLE_STATE = StructType(
    [
        StructField("trip_id", StringType()),
        StructField("ts_sec", LongType()),
        StructField("n", LongType()),
    ]
)


def streaming_vehicle_state(positions: DataFrame) -> DataFrame:
    """Latest-state-per-vehicle across micro-batches (streaming W1).

    Input needs ``vehicle_id``, ``trip_id``, ``ts_sec`` (epoch s) and an
    ``event_time`` timestamp for a 10-minute watermark.  Emits one row per
    vehicle per micro-batch in which its state advanced, carrying the
    lifetime update count — the operator state a fleet monitor needs,
    kept at O(fleet size).
    """

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (vid,) = key
        rows = pd.concat(list(pdfs), ignore_index=True)
        if not len(rows):
            return
        rows = rows.sort_values("ts_sec")
        newest = rows.iloc[-1]
        if state.exists:
            trip, ts, n = state.get
        else:
            trip, ts, n = None, -1, 0
        n += len(rows)
        if int(newest["ts_sec"]) >= ts:
            trip, ts = str(newest["trip_id"]), int(newest["ts_sec"])
        state.update((trip, ts, n))
        yield pd.DataFrame(
            {
                "vehicle_id": [vid],
                "trip_id": [trip],
                "ts_sec": [ts],
                "n_updates": [n],
            }
        )

    keyed = (
        positions.withColumn("vehicle_id", F.col("vehicle_id").cast("string"))
        .withWatermark("event_time", "10 minutes")
        .groupBy("vehicle_id")
    )
    return keyed.applyInPandasWithState(
        fn,
        outputStructType=VEHICLE_STATE_SCHEMA,
        stateStructType=_VEHICLE_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
