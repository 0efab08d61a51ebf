"""Streaming upsert materialized view: latest-wins semantics across
micro-batches, tombstones, batch-retry idempotency, and crash recovery
(append-only commit protocol)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.operators.cdc import merge_upsert
from gtfs_realtime_etl_spark.streaming.upsert import (
    DELETE_COL,
    current_version,
    make_upsert_view_sink,
    read_upsert_view,
)

SCHEMA = f"k bigint, val string, version bigint, {DELETE_COL} boolean"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _snapshot(spark, root):
    return {
        (r["k"], r["val"], r["version"])
        for r in read_upsert_view(spark, root).collect()
    }


def test_upsert_view_streaming_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    root = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")

    def emit(rows, mode):
        _df(spark, rows).write.mode(mode).json(src)

    def run():
        stream = spark.readStream.schema(SCHEMA).json(src)
        q = (
            stream.writeStream.foreachBatch(
                make_upsert_view_sink(root, keys=["k"], version_col="version")
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    emit([(1, "a", 1, False), (2, "b", 1, False)], "overwrite")
    run()
    assert _snapshot(spark, root) == {(1, "a", 1), (2, "b", 1)}

    # update k=1, delete k=2, insert k=3 in a later batch
    emit([(1, "a2", 2, False), (2, None, 2, True), (3, "c", 2, False)], "append")
    run()
    assert _snapshot(spark, root) == {(1, "a2", 2), (3, "c", 2)}

    # iterated micro-batch merging == one-shot merge of all updates
    all_updates = _df(
        spark,
        [
            (1, "a", 1, False),
            (2, "b", 1, False),
            (1, "a2", 2, False),
            (2, None, 2, True),
            (3, "c", 2, False),
        ],
    )
    oneshot = merge_upsert(
        all_updates.drop(DELETE_COL).limit(0),
        all_updates,
        keys=["k"],
        version_col="version",
        delete_col=DELETE_COL,
    )
    assert {
        (r["k"], r["val"], r["version"]) for r in oneshot.collect()
    } == _snapshot(spark, root)


def test_upsert_sink_retry_and_crash_recovery(spark, tmp_path):
    root = str(tmp_path / "view")
    sink = make_upsert_view_sink(root, keys=["k"], version_col="version")

    sink(_df(spark, [(1, "a", 1, False)]), 0)
    assert current_version(spark, root) == "v_0"
    before = _snapshot(spark, root)

    # Retry of a COMMITTED batch id: exact no-op.
    sink(_df(spark, [(1, "SHOULD_NOT_APPLY", 9, False)]), 0)
    assert _snapshot(spark, root) == before

    # Crash AFTER writing v_1 but BEFORE its commit marker: simulate by
    # writing the version dir manually, then re-delivering the batch.
    batch = _df(spark, [(1, "a2", 2, False), (2, "b", 2, False)])
    batch.limit(1).write.mode("overwrite").parquet(f"{root}/v_1")  # torn write
    assert current_version(spark, root) == "v_0"  # old state still live
    sink(batch, 1)  # re-delivery merges from v_0 and overwrites v_1
    assert current_version(spark, root) == "v_1"
    assert _snapshot(spark, root) == {(1, "a2", 2), (2, "b", 2)}


def test_upsert_view_gc_keeps_recent_versions(spark, tmp_path):
    import os

    root = str(tmp_path / "view")
    sink = make_upsert_view_sink(root, keys=["k"], version_col="version")
    for i in range(4):
        sink(_df(spark, [(1, f"v{i}", i, False)]), i)
    dirs = {d for d in os.listdir(root) if d.startswith("v_")}
    assert dirs == {"v_2", "v_3"}
    assert _snapshot(spark, root) == {(1, "v3", 3)}


def test_read_before_first_commit_fails_loud(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        read_upsert_view(spark, str(tmp_path / "nope"))
