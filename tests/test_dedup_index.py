"""The banded MinHash index the incremental fold keeps: probing a stored
index with an increment must equal a full recompute restricted to pairs
touching the increment, and the index must hold no text."""

from __future__ import annotations

from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.operators.dedup import (
    lsh_band_rows,
    minhash_lsh_candidates,
    probe_index,
)
from gtfs_realtime_etl_spark.sources.testdata import load_testdata
from gtfs_realtime_etl_spark.streaming.dedup_fold import make_dedup_fold_sink
from tests.conftest import SF_CORRECTNESS

KW = dict(num_hashes=32, bands=8, shingle_k=5)


def _docs(spark):
    return load_testdata(spark, SF_CORRECTNESS, "documents")[0].select("doc_id", "text")


def _pairs(df):
    return {(r["id_a"], r["id_b"]) for r in df.select("id_a", "id_b").collect()}


def test_incremental_matches_full_recompute(spark, tmp_path):
    """``probe_index`` against a stored index (old corpus) returns the
    one-shot candidates restricted to pairs that touch the increment.
    The index plus the increment is the whole corpus, so the running
    bucket cap equals the one-shot's final cap."""
    docs = _docs(spark)
    cut = 400  # old corpus: doc_id < 400; increment: the rest
    idx = str(tmp_path / "band_index")
    lsh_band_rows(docs.where(F.col("doc_id") < cut), **KW).write.parquet(idx)

    inc = _pairs(
        probe_index(
            lsh_band_rows(docs.where(F.col("doc_id") >= cut), **KW),
            spark.read.parquet(idx),
        )
    )
    full = _pairs(minhash_lsh_candidates(docs, **KW))
    assert inc == {p for p in full if p[0] >= cut or p[1] >= cut}
    assert inc, "increment produced no candidate pairs — cut too clean?"
    # No already-adjudicated old-vs-old pair leaks through.
    assert all(a >= cut or b >= cut for a, b in inc)


def test_index_append_extends_corpus(spark, tmp_path):
    """Appending an increment's band rows to the index makes the NEXT
    increment see it as corpus — the daily-crawl loop."""
    docs = _docs(spark)
    idx = str(tmp_path / "band_index")
    lsh_band_rows(docs.where(F.col("doc_id") < 300), **KW).write.parquet(idx)
    lsh_band_rows(docs.where(F.col("doc_id").between(300, 399)), **KW).write.mode(
        "append"
    ).parquet(idx)

    inc = _pairs(
        probe_index(
            lsh_band_rows(docs.where(F.col("doc_id") >= 400), **KW),
            spark.read.parquet(idx),
        )
    )
    full = _pairs(minhash_lsh_candidates(docs, **KW))
    assert inc == {p for p in full if p[0] >= 400 or p[1] >= 400}


def test_index_scan_reads_no_text(spark, tmp_path):
    """The whole point of the index: the fold sink dedups against
    history without the text column existing anywhere in its index."""
    index_root = str(tmp_path / "index")
    sink = make_dedup_fold_sink(
        index_root, str(tmp_path / "cands"), str(tmp_path / "ckpt")
    )
    sink(_docs(spark).where(F.col("doc_id") < 100), 0)
    stored = spark.read.parquet(index_root)
    assert set(stored.columns) == {"doc_id", "band_id", "band_key", "batch_id"}
    assert stored.count() == 100 * KW["bands"]
