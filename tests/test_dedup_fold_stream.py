"""Streaming dedup fold (the incremental MinHash-LSH fold over
Structured Streaming): the finalized pair set must equal the one-shot
banded-LSH dedup EVEN WHEN BUCKET CAPS BIND, the uncapped candidates
must equal the one-shot candidates, and the sink must be idempotent
under whole-batch and partial-failure retries."""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gtfs_realtime_etl_spark.operators import dedup
from gtfs_realtime_etl_spark.operators.dedup import (
    minhash_lsh_candidates,
    minhash_lsh_dedup,
)
from gtfs_realtime_etl_spark.plans.analytics23 import (
    DEDUP_INC_BANDS,
    DEDUP_INC_K,
    DEDUP_INC_NUM,
    DEDUP_INC_THRESHOLD,
    dedup_incremental_pairs,
)
from gtfs_realtime_etl_spark.sources.testdata import load_testdata
from gtfs_realtime_etl_spark.streaming import dedup_fold
from gtfs_realtime_etl_spark.streaming.dedup_fold import (
    finalize_fold,
    make_dedup_fold_sink,
    start_dedup_fold_stream,
)
from tests.conftest import SF_SMOKE

SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("text", StringType())]
)
CAP = 3  # deliberately tiny so buckets DO overflow
UNCAPPED = 100_000


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _docs(spark):
    return (
        load_testdata(spark, SF_SMOKE, "documents")[0]
        .select("doc_id", "text")
    )


@pytest.fixture()
def cap(monkeypatch):
    """Set the dedup bucket cap every fold step reads at call time."""
    return lambda value: monkeypatch.setattr(dedup, "MAX_BUCKET", value)


def _one_shot(documents):
    return minhash_lsh_dedup(
        documents,
        num_hashes=DEDUP_INC_NUM,
        bands=DEDUP_INC_BANDS,
        shingle_k=DEDUP_INC_K,
        threshold=DEDUP_INC_THRESHOLD,
    ).select(
        "id_a",
        "id_b",
        (F.round(F.col("jaccard") * F.lit(1e6), 0) / F.lit(1e6)).alias(
            "jaccard"
        ),
    )


def _write_slices(rows, src_dir, n_slices):
    os.makedirs(src_dir, exist_ok=True)
    per = (len(rows) + n_slices - 1) // n_slices
    for i in range(n_slices):
        chunk = rows[i * per : (i + 1) * per]
        tbl = pa.table(
            {
                "doc_id": pa.array([r["doc_id"] for r in chunk], pa.int64()),
                "text": pa.array([r["text"] for r in chunk], pa.string()),
            }
        )
        pq.write_table(tbl, os.path.join(src_dir, f"slice_{i}.parquet"))


def _drain(q):
    """Run the fold stream until every landed file is folded, then stop
    it (the stream has no drain-and-stop trigger)."""
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert q.exception() is None


def _stream_slices(spark, tmp_path, rows, monkeypatch, n_slices=3):
    """Land ``rows`` as ``n_slices`` files and fold them through the
    stream, one file per micro-batch."""
    monkeypatch.setattr(dedup_fold, "TRIGGER_SECONDS", 1)
    src = str(tmp_path / "incoming")
    _write_slices(rows, src, n_slices=n_slices)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_dedup_fold_stream(
        stream,
        index_root=str(tmp_path / "index"),
        cand_root=str(tmp_path / "cands"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    _drain(q)


def test_stream_fold_equals_one_shot_under_binding_cap(
    spark, tmp_path, monkeypatch, cap
):
    documents = _docs(spark)
    # The cap must actually bite here, or the "even when caps bind"
    # claim is vacuous.
    cap(UNCAPPED)
    n_uncapped = len(_rows(_one_shot(documents)))
    cap(CAP)
    _stream_slices(spark, tmp_path, documents.orderBy("doc_id").collect(), monkeypatch)

    got = _rows(
        finalize_fold(
            spark,
            documents,
            str(tmp_path / "index"),
            str(tmp_path / "cands"),
        )
    )
    exp = _rows(_one_shot(documents))
    assert got == exp
    # ... and equals the in-plan batch fold with the same cap.
    assert got == _rows(dedup_incremental_pairs(documents))
    assert n_uncapped > len(exp)


def test_stream_candidates_equal_one_shot_candidates_uncapped(
    spark, tmp_path, monkeypatch, cap
):
    """With no binding cap, the candidates the stream accumulates are
    exactly the one-shot candidate set: each pair is found in the batch
    where its later member arrives.  The index ends with one row per
    (doc, band) over the whole corpus."""
    documents = _docs(spark)
    rows = documents.orderBy("doc_id").collect()
    cap(UNCAPPED)
    _stream_slices(spark, tmp_path, rows, monkeypatch)

    streamed = {
        tuple(r)
        for r in spark.read.parquet(str(tmp_path / "cands"))
        .select("id_a", "id_b")
        .distinct()
        .collect()
    }
    one_shot = {
        tuple(r)
        for r in minhash_lsh_candidates(
            documents,
            num_hashes=DEDUP_INC_NUM,
            bands=DEDUP_INC_BANDS,
            shingle_k=DEDUP_INC_K,
        ).collect()
    }
    assert streamed == one_shot and one_shot

    idx = spark.read.parquet(str(tmp_path / "index"))
    assert idx.count() == len(rows) * DEDUP_INC_BANDS
    assert idx.select("doc_id").distinct().count() == len(rows)


def test_sink_retries_are_idempotent(spark, tmp_path, cap):
    cap(CAP)
    documents = _docs(spark)
    index_root = str(tmp_path / "index")
    cand_root = str(tmp_path / "cands")
    ckpt = str(tmp_path / "ckpt")
    sink = make_dedup_fold_sink(index_root, cand_root, ckpt)

    b0 = documents.filter(F.col("doc_id") % 2 == 0)
    b1 = documents.filter(F.col("doc_id") % 2 == 1)
    sink(b0, 0)
    sink(b1, 1)
    baseline = _rows(
        finalize_fold(spark, documents, index_root, cand_root)
    )
    assert baseline == _rows(_one_shot(documents))

    def counts():
        return (
            spark.read.parquet(index_root).count(),
            spark.read.parquet(cand_root).count(),
        )

    # Whole-batch redelivery: the commit marker short-circuits, so
    # neither output gains a row.
    before = counts()
    sink(b1, 1)
    assert counts() == before
    assert baseline == _rows(
        finalize_fold(spark, documents, index_root, cand_root)
    )

    # Partial failure: marker lost AFTER both appends landed — the
    # retry re-runs the batch against an index that already contains
    # its own rows.  The batch_id != probe guard and the index
    # anti-join guard must leave the finalized result unchanged.
    os.remove(os.path.join(ckpt, "fold_commits", "1"))
    sink(b1, 1)
    assert baseline == _rows(
        finalize_fold(spark, documents, index_root, cand_root)
    )
    # One index row per (doc, band): the bucket sizes rely on it.
    idx = spark.read.parquet(index_root)
    assert idx.groupBy("doc_id", "band_id").count().filter(
        F.col("count") > 1
    ).isEmpty()
    # The retry probed the pre-batch index, so it wrote no self-pair.
    cands = spark.read.parquet(cand_root)
    assert cands.filter(F.col("id_a") == F.col("id_b")).isEmpty()


@pytest.mark.scale_smoke
@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SCALE_SMOKE"),
    reason="opt-in: SPARK_GRAFT_SCALE_SMOKE=1 runs the 20x streaming smoke",
)
def test_streaming_dedup_scale_smoke(spark, tmp_path, monkeypatch):
    """Opt-in scale probe: a 20x corpus (100k docs, heavy planted
    duplicates) streamed through the fold in micro-batches of two
    slice files each.  Each batch's probe must stay bounded (capped
    buckets, index scanned narrow) — the continuous-ingestion stand-in
    for the 100 TB posture."""
    docs = (
        spark.read.parquet(
            os.path.join(os.path.dirname(SF_SMOKE), "sf0.1", "documents.parquet")
        )
        .crossJoin(spark.range(20).select(F.col("id").alias("rep")))
        .select((F.col("doc_id") * 100 + F.col("rep")).alias("doc_id"), "text")
    )
    src = str(tmp_path / "incoming")
    # 5 slice files via one partitioned write (fast path for 100k rows).
    docs.withColumn("slice", F.pmod("doc_id", F.lit(5))).repartition(
        5, "slice"
    ).write.partitionBy("slice").mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    monkeypatch.setattr(dedup_fold, "TRIGGER_SECONDS", 1)
    t0 = time.time()
    q = start_dedup_fold_stream(
        stream,
        index_root=str(tmp_path / "index"),
        cand_root=str(tmp_path / "cands"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    _drain(q)
    dt = time.time() - t0
    n = (
        spark.read.parquet(str(tmp_path / "cands"))
        .select("id_a", "id_b")
        .distinct()
        .count()
    )
    assert n > 0
    assert dt < 480, f"streaming dedup smoke took {dt:.0f}s"
