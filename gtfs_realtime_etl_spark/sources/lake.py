"""The partitioned parquet lake: writer + reader.

Reference layout (SURVEY.md §1.2): hive-partitioned by year/month/day
with a raw zone (one small snappy file per poll tick,
/root/reference/etl/runtime/handler.py:158-163) and a compacted zone
(few zstd files per day, compaction/runtime/handler.py:129-147).

Spark mapping: ``partitionBy("year","month","day")`` writes the
identical layout; the reader is a plain ``spark.read.parquet(root)`` —
partition discovery, partition pruning (PruneFileSourcePartitions),
parquet predicate/column pushdown all come from Catalyst for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.schemas import LOCATIONS_LAKE

PARTITION_COLS = ("year", "month", "day")

#: Raw-zone codec (hot per-tick appends); the compacted zone uses zstd.
RAW_COMPRESSION = "snappy"


def with_partition_cols(df: DataFrame) -> DataFrame:
    """Derive year/month/day partition columns from the (session-tz)
    event ``timestamp``.

    NB the reference derives partition keys from *wall-clock* time at
    write (``datetime.now``, handler.py:158) — event-time vs
    processing-time skew in partition assignment (SURVEY.md §1.4).  We
    partition by event time, which is the correct behavior at scale
    (late data lands in the right partition); the skew-faithful mode is
    a caller passing its own year/month/day columns.
    """
    ts = F.col("timestamp")
    return (
        df.withColumn("year", F.year(ts))
        .withColumn("month", F.month(ts))
        .withColumn("day", F.dayofmonth(ts))
    )


def write_locations_batch(df: DataFrame, root: str) -> None:
    """Append one micro-batch (or any enriched positions DataFrame) to the
    hive-partitioned lake.  Raw zone uses snappy (hot tier, reference
    parity handler.py:150); the compacted zone uses zstd (see
    ``streaming/compaction.py``).

    The append is plain parquet.  The reference stamps the GeoParquet
    footer on every per-tick file (etl/runtime/handler.py:146-154); here
    the footer is stamped once, by the compaction rewrite, so the hot
    append never re-reads or rewrites what it just wrote."""
    df.write.mode("append").partitionBy(*PARTITION_COLS).option(
        "compression", RAW_COMPRESSION
    ).parquet(root)


def read_locations(spark: SparkSession, root: str) -> DataFrame:
    """Read the whole lake as one logical table (reference: DuckDB
    ``read_parquet('…/year=*/month=*/day=*/*.parquet',
    hive_partitioning=true)``, schedule_deviation.ipynb:489-490).
    Partition-column filters applied by the caller are pruned at plan
    time — never a full scan.

    The schema is PINNED to the canonical lake StructType (S8): one
    evolved/corrupt file cannot silently change the table shape, and
    no inference listing pass runs over a 100 TB lake.  The reference
    needed a unified-schema workaround for exactly this drift
    (compaction/runtime/handler.py:86-102)."""
    return spark.read.schema(LOCATIONS_LAKE).parquet(root)


def day_slice(
    spark: SparkSession, root: str, year: int, month: int, day: int
) -> DataFrame:
    """One day's partition, pruned at plan time (the reference's
    secondary read path: visualize_locations.ipynb:46-48 reads a single
    ``year=/month=/day=`` glob).  Partition filters on all three keys
    mean the file index lists exactly that day's files — never the lake."""
    return read_locations(spark, root).filter(
        (F.col("year") == year) & (F.col("month") == month) & (F.col("day") == day)
    )


def day_slice_arrow(spark: SparkSession, root: str, year: int, month: int, day: int):
    """The visualization handoff: one pruned day as a pyarrow Table
    (visualize_locations.ipynb:97-129 hands a day's points to the GPU
    layer as Arrow).  ``DataFrame.toArrow()`` moves the partition
    driver-side in Arrow IPC batches — zero row-at-a-time conversion.
    Driver-side by design: a day slice is the human-scale end of the
    funnel, not a distributed stage."""
    return day_slice(spark, root, year, month, day).toArrow()
