"""Incremental MinHash-LSH near-dup detection over Structured Streaming.

The engine's continuous near-dup path: documents arrive continuously,
and each micro-batch is deduped against everything already ingested
without re-reading or re-hashing historical text.  The sink runs the
incremental fold of ``operators/dedup.py`` (``lsh_band_rows`` →
``probe_index`` → ``finalize_dedup_candidates``), the same fold the
``dedup_incremental`` registry entry runs in one plan:

per micro-batch (foreachBatch):
  1. the batch is signed and banded once, and ``probe_index`` emits
     its candidates (new-vs-index plus new-vs-new, guarded by the
     running bucket size as a pure scale protection) — appended to
     ``cand_root``;
  2. the batch's band rows are appended to the standing index
     (partitioned by ``batch_id``), so the next batch probes this one.

``finalize_fold`` then re-filters the accumulated candidates against
the FINAL bucket sizes and verifies them with the exact
shingle-Jaccard, so the finalized pair set equals the one-shot
``minhash_lsh_dedup`` under any micro-batch slicing, even when bucket
caps bind.

Idempotency (effectively-once under batch retry): the batch-commit
step of ``streaming/ingest.py::once_per_batch`` skips a whole-batch
redelivery.  A crash BETWEEN an append and the marker re-runs the
batch, so each step is retry-safe on its own:

- the probe reads the index with ``batch_id != current`` — the
  pre-batch state a clean first attempt saw.  Without it, a retry
  after the index append would probe an index holding its own rows and
  emit self-pairs ``(d, d)``;
- the index append anti-joins against THIS batch's stored rows
  (``batch_id`` is a partition column, so the guard read prunes to the
  retried batch's directories: O(batch), not O(index)), keeping one
  row per (doc, band), which the bucket sizes rely on;
- the candidate append may duplicate rows on a retry, which
  ``finalize_dedup_candidates``'s terminal ``distinct()`` absorbs.

Doc-id contract (load-bearing): document ids are unique and immutable
across the stream's lifetime.  Structured Streaming replays a failed
micro-batch under the SAME batch_id, which the guards above handle; a
source that re-emits an already-ingested doc_id in a later batch is
outside the contract — dedup re-deliveries upstream.

Scale shape: each batch signs ONLY its own text (one fused Arrow
pass), probes the index with one exchange on (band_id, band_key), and
appends O(batch) rows; history is never re-signed or re-read beyond
the narrow (doc_id, band_id, band_key) columns.  Finalize is one
count-per-bucket aggregate over the index plus a semi-join — the
merge step of the SUM-monoid bucket sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from gtfs_realtime_etl_spark.operators.dedup import (
    finalize_dedup_candidates,
    jaccard_pairs,
    lsh_band_rows,
    probe_index,
)
from gtfs_realtime_etl_spark.streaming.ingest import once_per_batch, start_with_trigger

_INDEX_COLS = ("doc_id", "band_id", "band_key")
#: Processing-time trigger interval of the fold stream.
TRIGGER_SECONDS = 30


def make_dedup_fold_sink(index_root: str, cand_root: str, checkpoint_dir: str):
    """foreachBatch function: probe the batch against the standing
    index, append candidates + band rows (once per batch id, markers
    under ``<checkpoint>/fold_commits/``)."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # Pin the batch rows (streaming-tagged plans can't re-execute);
        # micro-batch-sized by construction.
        batch = batch_df.localCheckpoint(eager=True)
        new_rows = lsh_band_rows(batch)

        index_path = spark._jvm.org.apache.hadoop.fs.Path(index_root)
        index_exists = index_path.getFileSystem(
            spark._jsc.hadoopConfiguration()
        ).exists(index_path)
        index_rows = None
        if index_exists:
            # batch_id != current: a retry after a partial index append
            # must probe the PRE-batch index, or new-vs-index would emit
            # self-pairs against its own half-appended rows.  Partition
            # column, so this prunes rather than scans.
            index_rows = (
                spark.read.parquet(index_root)
                .where(F.col("batch_id") != batch_id)
                .select(*_INDEX_COLS)
            )
        cands = probe_index(new_rows, index_rows)
        cands.write.mode("append").parquet(cand_root)

        sigs = new_rows.withColumn("batch_id", F.lit(batch_id))
        if index_exists:
            stored = (
                spark.read.parquet(index_root)
                .where(F.col("batch_id") == batch_id)
                .select("doc_id", "band_id")
            )
            sigs = sigs.join(stored, ["doc_id", "band_id"], "left_anti")
        sigs.write.partitionBy("batch_id").mode("append").parquet(index_root)

    return once_per_batch(f"{checkpoint_dir}/fold_commits", fold)


def start_dedup_fold_stream(
    docs_stream: DataFrame,
    index_root: str,
    cand_root: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Attach the fold sink to a streaming document source, a
    micro-batch every :data:`TRIGGER_SECONDS`."""
    writer = (
        docs_stream.writeStream.outputMode("append")
        .option("checkpointLocation", f"{checkpoint_dir}/engine")
        .foreachBatch(make_dedup_fold_sink(index_root, cand_root, checkpoint_dir))
    )
    return start_with_trigger(writer, TRIGGER_SECONDS, available_now=False)


def finalize_fold(
    spark: SparkSession,
    documents: DataFrame,
    index_root: str,
    cand_root: str,
) -> DataFrame:
    """The merge step: accumulated candidates re-filtered against FINAL
    bucket sizes, then exact shingle-Jaccard verification — the same
    terminal (5-shingles, Jaccard >= 0.35) as
    ``plans/analytics23.py::dedup_incremental_pairs``, so
    the result is row-identical to the one-shot under any bucket cap
    and any micro-batch slicing."""
    kept = finalize_dedup_candidates(
        spark.read.parquet(cand_root),
        spark.read.parquet(index_root).select(*_INDEX_COLS),
    )
    verified = jaccard_pairs(documents, kept, threshold=0.35)
    return verified.select(
        "id_a",
        "id_b",
        (F.round(F.col("jaccard") * F.lit(1e6), 0) / F.lit(1e6)).alias(
            "jaccard"
        ),
    )
