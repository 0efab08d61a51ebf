"""Retry idempotency of the streaming near-dup sink (the fold sink of
``streaming.dedup_fold``) under at-least-once redelivery: counts of
index and candidate rows must not move on a retried batch."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gtfs_realtime_etl_spark.sources.testdata import load_testdata
from gtfs_realtime_etl_spark.streaming.dedup_fold import make_dedup_fold_sink
from tests.conftest import SF_SMOKE

#: The fold sink bands each signature into 8 index rows.
BANDS = 8
SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("text", StringType())]
)


def _doc_rows(spark):
    return (
        load_testdata(spark, SF_SMOKE, "documents")[0]
        .select("doc_id", "text")
        .orderBy("doc_id")
        .collect()
    )


def _sink(tmp_path):
    return make_dedup_fold_sink(
        index_root=str(tmp_path / "index"),
        cand_root=str(tmp_path / "cands"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )


def test_dedup_sink_retry_is_noop(spark, tmp_path):
    """At-least-once redelivery: invoking the sink twice with the same
    batch_id must not double-append candidates or band rows."""
    rows = _doc_rows(spark)[:80]
    batch = spark.createDataFrame(rows, SCHEMA)
    sink = _sink(tmp_path)
    sink(batch, 0)
    cands_1 = spark.read.parquet(str(tmp_path / "cands")).count()
    index_1 = spark.read.parquet(str(tmp_path / "index")).count()
    assert index_1 == len(rows) * BANDS
    sink(batch, 0)  # retry
    assert spark.read.parquet(str(tmp_path / "cands")).count() == cands_1
    assert spark.read.parquet(str(tmp_path / "index")).count() == index_1
    sink(batch.withColumn("doc_id", F.col("doc_id") + 10_000), 1)  # new batch
    assert spark.read.parquet(str(tmp_path / "index")).count() == index_1 * 2


def test_dedup_sink_partial_failure_retry(spark, tmp_path):
    """Crash BETWEEN the appends and the commit marker: the retry
    re-runs the whole batch, and the index append must stay idempotent
    (one row per (doc, band)) via the stored-side anti-join, while the
    probe of the pre-batch index writes no self-pair — the whole-batch
    commit log alone cannot cover this window."""
    rows = _doc_rows(spark)[:80]
    batch0 = spark.createDataFrame(rows, SCHEMA)
    batch1 = batch0.withColumn("doc_id", F.col("doc_id") + 10_000)
    index_root = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    sink = _sink(tmp_path)
    sink(batch0, 0)
    sink(batch1, 1)
    index_after = spark.read.parquet(index_root).count()
    # Simulate the crash: batch 1's appends landed but its marker was
    # never written.
    os.remove(os.path.join(ckpt, "fold_commits", "1"))
    sink(batch1, 1)  # at-least-once redelivery
    idx = spark.read.parquet(index_root)
    assert idx.count() == index_after  # no double-append
    dupes = (
        idx.groupBy("doc_id", "band_id").count().filter(F.col("count") > 1).count()
    )
    assert dupes == 0  # one-row-per-(doc, band) invariant holds
    cands = spark.read.parquet(str(tmp_path / "cands"))
    assert cands.filter(F.col("id_a") == F.col("id_b")).isEmpty()
