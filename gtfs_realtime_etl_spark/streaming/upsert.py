"""Streaming upsert materialized view: keep a keyed snapshot current
from a CDC-shaped stream.

Composes two existing pieces into the production pattern a lakehouse
without a table format needs:

- ``operators/cdc.py::merge_upsert`` — latest-wins union + one keyed
  row_number (ONE shuffle, tombstone deletes);
- the batch-id idempotency of
  ``streaming/ingest.py::make_idempotent_lake_sink`` — foreachBatch is
  at-least-once, so a retried batch must be a no-op.

Durability protocol (a three-line table format), APPEND-ONLY so no
crash window can lose or hide the previous snapshot:

- every batch writes a NEW immutable version directory
  ``<root>/v_<batch_id>`` (merge of the current version + the batch);
- committing a version = atomically CREATING the empty marker
  ``<root>/_commits/<batch_id>`` — nothing is renamed or deleted on
  the commit path, and the live version is simply the highest
  committed id;
- a re-delivered batch (its marker absent) re-merges from the still-
  live previous version and overwrites its own ``v_`` dir — idempotent.

Old versions are garbage-collected only after newer commits exist
(markers deleted last), so every reachable state names a complete
snapshot.  At scale the snapshot rewrite is bounded by live KEY
cardinality, not event volume; a base bucketed by the key confines the
merge shuffle to the update batch (see cdc.py).  This is what
Delta/Iceberg ``MERGE INTO`` + streaming give you; the point here is
the semantics need only atomic file creation + idempotent batch ids,
not the format.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from gtfs_realtime_etl_spark.operators.cdc import merge_upsert

#: Committed versions the sink retains; older ones are collected.
KEEP_VERSIONS = 2
#: Boolean tombstone column every CDC batch carries; a winning row with
#: it set is deleted from the view.
DELETE_COL = "deleted"


def _jpath(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p, p.getFileSystem(spark._jsc.hadoopConfiguration())


def _committed_ids(spark: SparkSession, root: str) -> list[int]:
    jvm, commits, fs = _jpath(spark, f"{root}/_commits")
    if not fs.exists(commits):
        return []
    return sorted(
        int(f.getPath().getName()) for f in fs.listStatus(commits)
    )


def current_version(spark: SparkSession, root: str) -> str | None:
    """Live version directory name (highest committed batch id), or
    None before the first commit."""
    ids = _committed_ids(spark, root)
    return f"v_{ids[-1]}" if ids else None


def read_upsert_view(spark: SparkSession, root: str) -> DataFrame:
    """The live snapshot (highest committed version)."""
    v = current_version(spark, root)
    if v is None:
        raise FileNotFoundError(f"no committed snapshot under {root}")
    return spark.read.parquet(f"{root}/{v}")


def make_upsert_view_sink(root: str, keys: Sequence[str], version_col: str):
    """foreachBatch function maintaining a keyed snapshot under
    ``root`` from CDC micro-batches (tombstones in :data:`DELETE_COL`,
    which the snapshot does not keep).  Idempotent under batch retry;
    crash-safe by construction (append-only commits — see module
    docstring)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        jvm, _, fs = _jpath(spark, root)
        committed = _committed_ids(spark, root)
        if batch_id in committed:  # retried batch: already live
            return

        cols = [c for c in batch_df.columns if c != DELETE_COL]
        if committed:
            base = spark.read.parquet(f"{root}/v_{committed[-1]}").select(*cols)
        else:
            base = batch_df.select(*cols).limit(0)

        merged = merge_upsert(
            base, batch_df, keys=keys, version_col=version_col,
            delete_col=DELETE_COL,
        )
        merged.write.mode("overwrite").parquet(f"{root}/v_{batch_id}")

        # Commit = atomic creation of the marker; nothing else moves.
        marker = jvm.org.apache.hadoop.fs.Path(f"{root}/_commits/{batch_id}")
        fs.mkdirs(marker.getParent())
        fs.create(marker, True).close()

        # GC: drop versions older than the retention window, data first,
        # marker last — a crash mid-GC still leaves the newest commits
        # naming complete snapshots.
        stale = _committed_ids(spark, root)[:-KEEP_VERSIONS]
        for old in stale:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{root}/v_{old}"), True)
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(f"{root}/_commits/{old}"), False
            )

    return sink
