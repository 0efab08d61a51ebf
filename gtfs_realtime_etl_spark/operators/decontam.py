"""Benchmark decontamination: flag training docs that contain an
evaluation/benchmark document.

The standard large-corpus curation step (run alongside dedup in every
serious LLM data pipeline): a training document is CONTAMINATED when it
contains a high fraction of some benchmark document's character
n-grams.  The metric is shingle-set CONTAINMENT — |train ∩ test| /
|test| over distinct shingle hashes — which, unlike Jaccard, still
fires when a short benchmark item is embedded inside a long training
document.

Plan shape at 100 TB (same bounded-inverted-index discipline as
operators/dedup.py):

1. one fused Arrow kernel pass per side → distinct shingle-hash sets;
2. explode to an inverted index keyed on the hash; ONE shuffle of the
   big (train) side on the hash — its document-frequency cap is
   computed from the same exchange (reused, not re-shuffled);
3. stop-shingle cap: hashes occurring in more than ``max_doc_freq``
   train docs are dropped from matching (boilerplate n-grams would
   otherwise fan out quadratically — the candidate-bucket cap of the
   LSH family, applied to an inverted index);
4. per-(train, test) shared counts → containment ≥ τ.

All hashing is the portable polynomial scheme of functions/hashing.py,
so the DuckDB oracle (plans/base.py::Q_DECONTAMINATION_SQL) replays
the pipeline exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.functions.hashing import shingle_hash_set_kernel
from gtfs_realtime_etl_spark.operators.dedup import ID_COL, TEXT_COL
from gtfs_realtime_etl_spark.sources.testdata import saturate_scan

#: Stop-shingle cap: hashes present in more train docs than this are
#: too common to signal contamination and would dominate the join.
DEFAULT_MAX_DOC_FREQ = 1000


def contamination_pairs(
    train: DataFrame,
    test: DataFrame,
    shingle_k: int = 8,
    containment: float = 0.5,
    max_doc_freq: int = DEFAULT_MAX_DOC_FREQ,
) -> DataFrame:
    """(train_id, test_id, containment) for every train doc containing
    ≥ ``containment`` of a test doc's distinct ``shingle_k``-gram
    hashes.  Both hash arrays are per-doc DISTINCT, so the inverted
    join emits each (train, test, hash) at most once and ``count(*)``
    is the shared-distinct count."""
    kernel = shingle_hash_set_kernel(shingle_k)
    # Benchmark side first: it is small by definition, feeds two plan
    # legs (the broadcast hash filter below + the match join), and a
    # lazy checkpoint keeps its kernel from re-running per leg.
    te_h = (
        test.select(F.col(ID_COL).alias("test_id"), kernel(F.col(TEXT_COL)).alias("sh"))
        .select("test_id", F.size("sh").alias("n_test"), F.explode("sh").alias("h"))
        .localCheckpoint(eager=False)
    )
    # The train index is the heavy side (corpus-sized).  Two things keep
    # its cost bounded:
    # 1. a BROADCAST semi-join against the benchmark's distinct hashes
    #    BEFORE any shuffle — only hashes that occur in some benchmark
    #    doc can ever contribute to a containment count, and per-hash
    #    train doc-frequencies are unchanged by dropping other hashes,
    #    so results (and the oracle, which filters nothing) are
    #    identical while the shuffle shrinks by orders of magnitude;
    # 2. an explicit repartition on the hash: the surviving rows are
    #    SKINNY (two longs) and AQE would coalesce their exchange to a
    #    couple of tasks by byte size, serializing the match phase
    #    (same pinning rationale as dedup.jaccard_pairs); the pinned
    #    exchange is reused by the freq aggregate and the match join.
    n_tasks = train.sparkSession.sparkContext.defaultParallelism
    tr_h = (
        saturate_scan(train)
        .select(F.col(ID_COL).alias("train_id"), kernel(F.col(TEXT_COL)).alias("sh"))
        .select("train_id", F.explode("sh").alias("h"))
        .join(F.broadcast(te_h.select("h").distinct()), "h", "left_semi")
        .repartition(n_tasks, F.col("h"))
    )
    # document-frequency cap over the SAME exchange as the match join
    ok = (
        tr_h.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_doc_freq)
        .select("h")
    )
    shared = (
        tr_h.join(ok, "h")
        .join(te_h, "h")
        .groupBy("train_id", "test_id", "n_test")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    cont = F.col("n_shared").cast("double") / F.col("n_test").cast("double")
    return (
        shared.withColumn("containment", cont)
        .filter(F.col("containment") >= F.lit(containment))
        .select("train_id", "test_id", "containment")
    )

