"""Stream-static enrichment join.

The standard streaming dimension join: a micro-batch stream joined to
a batch ("static") DataFrame.  Structured Streaming re-evaluates the
static side's plan every micro-batch, so a file/table-backed dimension
is re-read at its CURRENT snapshot each batch — slowly-changing dims
update mid-stream without restarts (the reference has no analog; its
enrichment is frozen at lambda deploy time, SURVEY.md §2.7).

The static side should be broadcast: a shuffle would re-partition the
unbounded stream side every batch, while a broadcast costs one small
exchange per batch and keeps the stream side's partitioning intact.
State considerations: none — stream-static joins are stateless (each
batch joins independently), unlike stream-stream joins
(streaming/joins.py) which must hold watermarked state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_stream(
    stream: DataFrame, static: DataFrame, on: list[str] | str
) -> DataFrame:
    """Left-join a streaming DataFrame against a broadcast static
    dimension: every stream row is kept, with nulls where the dimension
    has no match (a right/full join over an unbounded stream is not
    defined)."""
    return stream.join(F.broadcast(static), on, "left")
