"""Incremental MinHash-LSH dedup (bank 27): the cross-JOB contract
behind ``dedup_incremental`` — arrival batches landed as SEPARATE jobs
on a batch-partitioned lake, each probing (and then extending) a
standing parquet index, must produce the row-identical verified pair
set of the one-shot banded-LSH dedup.  The batch predicate must prune
partitions on the lake read (the production shape: sign and probe only
the new batch, never re-sign history)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.operators import dedup
from gtfs_realtime_etl_spark.operators.dedup import (
    finalize_dedup_candidates,
    jaccard_pairs,
    lsh_band_rows,
    minhash_lsh_dedup,
    probe_index,
)
from gtfs_realtime_etl_spark.plans import analytics23
from gtfs_realtime_etl_spark.plans.analytics23 import (
    DEDUP_INC_BATCHES,
    DEDUP_INC_K,
    DEDUP_INC_NUM,
    DEDUP_INC_THRESHOLD,
    dedup_incremental_pairs,
    q_dedup_incremental,
)
from gtfs_realtime_etl_spark.sources.testdata import load_testdata
from tests.conftest import SF_SMOKE

BANDS = 8  # DEDUP_INC_BANDS; pinned literal so a param drift trips here


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _documents(spark):
    return load_testdata(spark, SF_SMOKE, "documents")[0]


def test_batch_jobs_merge_to_one_shot_result(spark, tmp_path):
    """The fold-as-it-lands path, with real job boundaries: every
    intermediate (the standing banded index, the accumulated candidate
    set) round-trips through parquet between batches, so no lineage —
    only lake state — carries information across jobs."""
    documents = _documents(spark)
    lake = str(tmp_path / "docs_by_batch")
    documents.withColumn(
        "batch", F.pmod(F.col("doc_id"), F.lit(DEDUP_INC_BATCHES))
    ).write.partitionBy("batch").parquet(lake)

    index_path = str(tmp_path / "index")
    cand_path = str(tmp_path / "cands")
    for d in range(DEDUP_INC_BATCHES):
        # --- one job: reads ONLY its batch partition + standing state.
        batch_docs = spark.read.parquet(lake).filter(F.col("batch") == d)
        new_rows = lsh_band_rows(batch_docs)
        index_rows = spark.read.parquet(index_path) if d else None
        cands = probe_index(new_rows, index_rows)
        cands.write.mode("append" if d else "overwrite").parquet(cand_path)
        new_rows.write.mode("append" if d else "overwrite").parquet(index_path)

    # --- finalize job: candidates vs FINAL bucket sizes, then verify.
    kept = finalize_dedup_candidates(
        spark.read.parquet(cand_path), spark.read.parquet(index_path)
    )
    verified = jaccard_pairs(
        documents, kept, shingle_k=DEDUP_INC_K, threshold=DEDUP_INC_THRESHOLD
    ).select(
        "id_a",
        "id_b",
        (F.round(F.col("jaccard") * F.lit(1e6), 0) / F.lit(1e6)).alias("jaccard"),
    )

    one_shot = minhash_lsh_dedup(
        documents,
        num_hashes=DEDUP_INC_NUM,
        bands=BANDS,
        shingle_k=DEDUP_INC_K,
        threshold=DEDUP_INC_THRESHOLD,
    ).select(
        "id_a",
        "id_b",
        (F.round(F.col("jaccard") * F.lit(1e6), 0) / F.lit(1e6)).alias("jaccard"),
    )
    got, exp = _rows(verified), _rows(one_shot)
    assert len(exp) > 0, "one-shot produced a trivial pair set"
    assert got == exp

    # And the registry form (the in-plan fold) agrees with both.
    assert _rows(q_dedup_incremental(spark, SF_SMOKE)) == exp


def test_batch_predicate_prunes_partitions(spark, tmp_path):
    documents = _documents(spark)
    lake = str(tmp_path / "docs_by_batch")
    documents.withColumn(
        "batch", F.pmod(F.col("doc_id"), F.lit(DEDUP_INC_BATCHES))
    ).write.partitionBy("batch").parquet(lake)

    pruned = spark.read.parquet(lake).filter(F.col("batch") == 2)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "batch" in plan

    # input_file_name() reflects files actually opened at runtime
    # (DataFrame.inputFiles() is pre-pruning and would not notice).
    def files_read(df):
        return {
            r[0] for r in df.select(F.input_file_name()).distinct().collect()
        }

    all_files = files_read(spark.read.parquet(lake))
    pruned_files = files_read(pruned)
    assert pruned_files and pruned_files < all_files
    assert pruned_files == {f for f in all_files if "batch=2/" in f}


def test_fold_is_slicing_invariant(spark, monkeypatch):
    """2-batch and 4-batch slicings of the same corpus must produce the
    identical verified pair set — the arrival order / batch granularity
    independence the incremental contract rests on."""
    documents = _documents(spark)
    assert DEDUP_INC_BATCHES == 4
    four = _rows(dedup_incremental_pairs(documents))
    monkeypatch.setattr(analytics23, "DEDUP_INC_BATCHES", 2)
    assert _rows(dedup_incremental_pairs(documents)) == four


def test_bucket_cap_matches_one_shot_semantics(spark, monkeypatch):
    """Force a tiny cap so buckets DO overflow: pairs a bucket emitted
    while small must be dropped once the bucket outgrows the cap,
    exactly like the one-shot's whole-bucket drop."""
    documents = _documents(spark)
    uncapped = _rows(dedup_incremental_pairs(documents))
    monkeypatch.setattr(dedup, "MAX_BUCKET", 3)
    capped_fold = dedup_incremental_pairs(documents)
    capped_one_shot = minhash_lsh_dedup(
        documents,
        num_hashes=DEDUP_INC_NUM,
        bands=BANDS,
        shingle_k=DEDUP_INC_K,
        threshold=DEDUP_INC_THRESHOLD,
    ).select(
        "id_a",
        "id_b",
        (F.round(F.col("jaccard") * F.lit(1e6), 0) / F.lit(1e6)).alias("jaccard"),
    )
    got, exp = _rows(capped_fold), _rows(capped_one_shot)
    assert got == exp
    # The cap must actually bite at this setting, or the test is vacuous.
    assert len(uncapped) > len(got)
