"""Streaming heavy hitters — the streaming twin of
``operators/sketches.py``'s Misra-Gries summary.

A continuously-ingesting corpus wants its frequent-token profile (for
stopword drift, boilerplate floods, template storms) WITHOUT a
vocabulary-sized state store: per-token counting state would grow with
the vocabulary, but a Misra-Gries summary is a FIXED :data:`CAPACITY`
counters per group — O(groups x CAPACITY) state forever, no watermark
needed, while still guaranteeing

    est(t) <= exact(t) <= est(t) + dec_total

for every token the group has ever seen (mergeable-summaries bound,
dec_total <= N_group/(CAPACITY+1)).

Semantics: keyed ``applyInPandasWithState`` (see streaming/budget.py
for why PySpark 4's transformWithStateInPandas is unavailable in this
container).  Each micro-batch folds the batch's token counts into the
group's summary (pre-aggregated with a vectorized value_counts — the
Python loop touches counters, not token occurrences) and emits the
group's current top-:data:`EMIT_K` snapshot; ``n_seen`` on every row is
the group's lifetime token count, so downstream consumers (and tests)
can pick the latest snapshot per group without event-time bookkeeping.

Scale shape: one ``groupBy(group)`` exchange per micro-batch — the
single shuffle any keyed stateful op pays; emitted rows are
O(groups x EMIT_K) per batch.

Reference scope: the reference has no streaming-sketch surface; this
is a driver-mandated LLM-pipeline extension (SURVEY.md §7 step 7).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from gtfs_realtime_etl_spark.operators.sketches import (
    DEFAULT_CAPACITY,
    _mg_merge,
)

HH_OUT_SCHEMA = StructType(
    [
        StructField("group", StringType()),
        StructField("token", StringType()),
        StructField("est", LongType()),
        StructField("est_upper", LongType()),
        StructField("n_seen", LongType()),
    ]
)

#: Counters per group summary (the batch sketch's capacity).
CAPACITY = DEFAULT_CAPACITY
#: Top estimates each snapshot emits per group.
EMIT_K = 10

_HH_STATE = StructType(
    [
        StructField("toks", ArrayType(StringType())),
        StructField("counts", ArrayType(LongType())),
        StructField("dec", LongType()),
        StructField("n", LongType()),
    ]
)


def streaming_heavy_hitters(tokens: DataFrame) -> DataFrame:
    """Per-group streaming Misra-Gries top-:data:`EMIT_K` snapshots of
    :data:`CAPACITY`-counter summaries (both read when the stream is
    built).

    ``tokens`` needs ``source`` and ``token`` columns.  Every micro-batch
    emits each updated group's current top estimates with the
    theorem-backed upper bound ``est_upper = est + dec_total``."""
    cap, k = CAPACITY, EMIT_K

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (group,) = key
        if state.exists:
            toks, counts, dec, n = state.get
            summary = dict(zip(toks, counts))
        else:
            summary, dec, n = {}, 0, 0
        updated = False
        for pdf in pdfs:
            if not len(pdf):
                continue
            updated = True
            vc = pdf["token"].value_counts()
            n += int(vc.sum())
            for tok, c in vc.items():
                summary[tok] = summary.get(tok, 0) + int(c)
            summary, s = _mg_merge(summary, cap)
            dec += s
        if not updated:
            return
        state.update((list(summary), list(summary.values()), dec, n))
        top = sorted(summary.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        yield pd.DataFrame(
            {
                "group": group,
                "token": [t for t, _ in top],
                "est": [v for _, v in top],
                "est_upper": [v + dec for _, v in top],
                "n_seen": n,
            }
        )

    keyed = tokens.select(
        F.col("source").cast("string").alias("group"),
        F.col("token").cast("string").alias("token"),
    ).groupBy("group")
    return keyed.applyInPandasWithState(
        fn,
        outputStructType=HH_OUT_SCHEMA,
        stateStructType=_HH_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
