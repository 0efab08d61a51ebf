"""Document chunking: split documents into overlapping fixed-size token
windows — the sequence-prep step between cleaning/dedup and packing
(``context_pack`` packs whole docs; chunking is what makes long docs
packable in the first place).

Pure Column implementation: tokenize once, derive the chunk-start grid
with ``sequence`` (chunk count = ceil((n_tokens - overlap) / stride)),
explode, slice.  Everything stays in whole-stage codegen; output size
is input tokens x (chunk/stride) — the explode is the op's honest
cost, there is no shuffle at all unless the caller adds one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.functions.text import tokens


def chunk_documents(
    documents: DataFrame,
    chunk_size: int = 32,
    stride: int = 24,
) -> DataFrame:
    """One row per (doc, chunk) of the ``text`` column: ``doc_id``,
    ``chunk_id`` (0-based), ``chunk_text``
    (tokens re-joined with single spaces), ``n_toks`` (<= chunk_size;
    the final chunk may be short).  Docs with zero tokens produce no
    chunks.  ``stride < chunk_size`` gives overlapping chunks."""
    if stride <= 0 or chunk_size <= 0:
        raise ValueError("chunk_size and stride must be positive")
    toks: Column = tokens(F.col("text"))
    d = (
        documents.select("doc_id", toks.alias("_toks"))
        .where(F.size("_toks") > 0)
        .withColumn("_n", F.size("_toks").cast("bigint"))
    )
    # ceil((n - chunk) / stride) chunks past the first; a doc fitting in
    # one chunk gets exactly one (no redundant all-overlap tail chunk).
    # Integer DIV with a non-negative numerator only — truncation vs
    # floor semantics on negatives differ across engines.
    last_chunk = F.when(F.col("_n") <= chunk_size, F.lit(0).cast("bigint")).otherwise(
        F.expr(f"CAST((_n - {chunk_size} + {stride} - 1) DIV {stride} AS BIGINT)")
    )
    d = d.withColumn(
        "chunk_id", F.explode(F.sequence(F.lit(0).cast("bigint"), last_chunk))
    )
    piece = F.slice(
        F.col("_toks"),
        (F.col("chunk_id") * stride + 1).cast("int"),
        chunk_size,
    )
    return d.select(
        "doc_id",
        "chunk_id",
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).alias("n_toks"),
    )
