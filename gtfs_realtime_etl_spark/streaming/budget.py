"""Streaming per-source token budget — the streaming twin of
``operators/splits.py::domain_cap``.

While assembling a training mix continuously, each source may
contribute at most ``budget_tokens`` tokens; documents stream in, and a
doc is ACCEPTED only while its source's running total is under budget
(the doc that crosses the line is accepted — byte-budget semantics are
"stop after crossing" — and everything after it drops).  Over-budget
data is dropped IN-FLIGHT, so the sink never stores it — at 100 TB
this is the difference between filtering the lake after the fact and
never paying to write it.

Determinism: within a micro-batch, docs are processed in ``doc_id``
order, so the accept set is a function of the batch sequence alone;
acceptance across batches depends only on the running total (state is
one int64 per source — O(sources), not O(docs)).

Scale shape: one ``groupBy(source)`` exchange — the same single
shuffle any keyed stateful op pays; the state store holds one value
row per source.

API note: built on ``applyInPandasWithState``.  PySpark 4's
``transformWithStateInPandas`` (typed state handles, timers, TTL) is
the successor API, but its driver worker imports ``google.protobuf``,
which this container does not ship — attempting it fails with
STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE before any user code
runs.  The operator semantics are API-agnostic; porting is a
mechanical swap once the dependency exists.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StringType, StructField, StructType

BUDGET_OUT_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("doc_id", LongType()),
        StructField("n_tokens", LongType()),
        StructField("source_total", LongType()),
    ]
)

_BUDGET_STATE = StructType([StructField("used", LongType())])


def streaming_token_budget(
    docs: DataFrame,
    budget_tokens: int,
) -> DataFrame:
    """Apply a per-source token budget to a streaming document frame.

    ``docs`` needs ``source``, ``doc_id`` and ``n_tokens`` columns.
    Returns the accepted rows with the source's running total at
    acceptance time."""
    budget = int(budget_tokens)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (source,) = key
        used = state.get[0] if state.exists else 0
        batch = pd.concat(list(pdfs), ignore_index=True)
        if not len(batch):
            return
        batch = batch.sort_values("doc_id")
        out_ids: list[int] = []
        out_toks: list[int] = []
        out_totals: list[int] = []
        for doc_id, n_tokens in zip(batch["doc_id"], batch["n_tokens"]):
            if used >= budget:
                continue  # source exhausted: drop in-flight
            used += int(n_tokens)
            out_ids.append(int(doc_id))
            out_toks.append(int(n_tokens))
            out_totals.append(used)
        state.update((used,))
        if out_ids:
            yield pd.DataFrame(
                {
                    "source": source,
                    "doc_id": out_ids,
                    "n_tokens": out_toks,
                    "source_total": out_totals,
                }
            )

    keyed = docs.select(
        F.col("source").cast("string").alias("source"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    ).groupBy("source")
    return keyed.applyInPandasWithState(
        fn,
        outputStructType=BUDGET_OUT_SCHEMA,
        stateStructType=_BUDGET_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
