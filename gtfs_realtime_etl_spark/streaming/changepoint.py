"""Streaming CUSUM change-point monitor — the in-flight twin of the
registry's batch ``cusum_changepoint`` scan (`plans/analytics9.py`).

The batch entry answers "where DID the level shift?" over a at-rest
corpus; this operator answers "has it shifted NOW?" while data is
still arriving — the alarm a continuously-ingesting pipeline needs
before a broken scraper writes a month of drifted data into a 100 TB
lake.

Semantics (tabular CUSUM, Page 1954 — public textbook form): per key,
against a frozen target mean ``mu`` with slack ``k`` and threshold
``h`` (all in integer micro-units of the metric),

    s_pos ← max(0, s_pos + (x − mu − k))
    s_neg ← max(0, s_neg − (x − mu) − k)

an ALARM row is emitted whenever either statistic crosses ``h``, and
both reset (restart semantics) so repeated shifts re-alarm.  The
metric is quantized ONCE to micro-units (``floor(x·1e6 + 0.5)``), so
ALL state is int64 and the alarm sequence is bit-deterministic — a
replay, a retry, or a different micro-batch slicing of the same
time-ordered rows yields the identical alarm set (pinned in tests).

Processing order: rows sort by ``(ts, row_id)`` inside each
micro-batch; cross-batch order is the stream's arrival order, so the
operator assumes a time-ordered append stream (the same contract as
``streaming/budget.py``'s doc_id order — late data belongs to the
watermarked windowed operators, not a sequential scan statistic).

Scale shape: ONE ``groupBy(key)`` exchange; state is three int64 per
key — O(keys), not O(rows).  Built on ``applyInPandasWithState`` (see
``streaming/budget.py`` for why ``transformWithStateInPandas`` is
unavailable in this container).

``cusum_scan_batch`` is the batch twin: the identical fold over an
at-rest frame via ``applyInPandas``, so tests can require
stream == batch on the same rows (the ``streaming/drift.py`` twin
pattern).

Reference scope: the reference has no monitoring surface; this is a
driver-mandated LLM-pipeline extension (SURVEY.md §7 step 7).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StringType, StructField, StructType

CUSUM_OUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("ts", LongType()),
        StructField("row_id", LongType()),
        StructField("x_micro", LongType()),
        StructField("s_pos", LongType()),
        StructField("s_neg", LongType()),
        StructField("direction", StringType()),
        StructField("n_seen", LongType()),
    ]
)

_CUSUM_STATE = StructType(
    [
        StructField("s_pos", LongType()),
        StructField("s_neg", LongType()),
        StructField("n_seen", LongType()),
    ]
)


def _fold(
    batch: pd.DataFrame,
    s_pos: int,
    s_neg: int,
    n_seen: int,
    mu_micro: int,
    slack_micro: int,
    threshold_micro: int,
):
    """The shared int64 CUSUM fold: returns (alarm rows, new state)."""
    out: dict[str, list] = {
        "ts": [],
        "row_id": [],
        "x_micro": [],
        "s_pos": [],
        "s_neg": [],
        "direction": [],
        "n_seen": [],
    }
    batch = batch.sort_values(["ts", "row_id"])
    for ts, row_id, x in zip(batch["ts"], batch["row_id"], batch["x_micro"]):
        n_seen += 1
        dev = int(x) - mu_micro
        s_pos = max(0, s_pos + dev - slack_micro)
        s_neg = max(0, s_neg - dev - slack_micro)
        if s_pos > threshold_micro or s_neg > threshold_micro:
            out["ts"].append(int(ts))
            out["row_id"].append(int(row_id))
            out["x_micro"].append(int(x))
            out["s_pos"].append(s_pos)
            out["s_neg"].append(s_neg)
            out["direction"].append("up" if s_pos > threshold_micro else "down")
            out["n_seen"].append(n_seen)
            s_pos = 0
            s_neg = 0
    return out, s_pos, s_neg, n_seen


def _quantize(df: DataFrame) -> DataFrame:
    """Key each ``event_type`` row by (``ts``, ``event_id``) with its
    ``value`` in micro-units."""
    return df.select(
        F.col("event_type").cast("string").alias("key"),
        F.col("ts").cast("long").alias("ts"),
        F.col("event_id").cast("long").alias("row_id"),
        F.floor(F.col("value").cast("double") * 1_000_000 + F.lit(0.5))
        .cast("long")
        .alias("x_micro"),
    )


def streaming_cusum(
    stream: DataFrame,
    mu_micro: int,
    slack_micro: int,
    threshold_micro: int,
) -> DataFrame:
    """Per-key streaming CUSUM alarms (module doc)."""
    mu, k, h = int(mu_micro), int(slack_micro), int(threshold_micro)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (key_val,) = key
        s_pos, s_neg, n_seen = state.get if state.exists else (0, 0, 0)
        batch = pd.concat(list(pdfs), ignore_index=True)
        if not len(batch):
            return
        out, s_pos, s_neg, n_seen = _fold(batch, s_pos, s_neg, n_seen, mu, k, h)
        state.update((s_pos, s_neg, n_seen))
        if out["ts"]:
            yield pd.DataFrame({"key": key_val, **out})

    keyed = _quantize(stream).groupBy("key")
    return keyed.applyInPandasWithState(
        fn,
        outputStructType=CUSUM_OUT_SCHEMA,
        stateStructType=_CUSUM_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def cusum_scan_batch(
    df: DataFrame,
    mu_micro: int,
    slack_micro: int,
    threshold_micro: int,
) -> DataFrame:
    """Batch twin: the identical fold over an at-rest frame."""
    mu, k, h = int(mu_micro), int(slack_micro), int(threshold_micro)

    def fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        (key_val,) = key
        out, *_ = _fold(pdf, 0, 0, 0, mu, k, h)
        return pd.DataFrame({"key": key_val, **out})

    return _quantize(df).groupBy("key").applyInPandas(fn, schema=CUSUM_OUT_SCHEMA)
