"""Small-file compaction — the lake maintenance job.

Reference: a cron lambda rewrites each day's many per-tick files into a
few zstd-15 files with 61,440–122,880-row groups
(/root/reference/compaction/runtime/handler.py:104-127), daily per-day
and monthly per-month (:129-147), driven by a date-range enumerator
(:150-167).

Spark mapping (SURVEY.md §2.1 S9-S11): partition-scoped read →
coalesce → zstd write with ``maxRecordsPerFile``.  No S3 listing code —
Spark's file index does discovery; no schema pinning workaround — the
lake writes uniform schemas.  ``preserve_order`` of the reference is
upgraded to an explicit ``sortWithinPartitions(timestamp)``, which also
gives parquet min/max row-group statistics their pruning power.

The compacted files are GeoParquet like the reference's (its writer
emits the ``geo`` footer, etl/runtime/handler.py:146-152): the rewrite
stamps the footer onto every file it writes (sources/geoparquet.py).
The hot raw zone is never stamped.
"""

from __future__ import annotations

import datetime as dt
from zoneinfo import ZoneInfo

from pyspark.sql import SparkSession

from gtfs_realtime_etl_spark.sources.geoparquet import stamp_geoparquet

#: Reference row-group band (compaction/runtime/handler.py:105-107).
MAX_RECORDS_PER_FILE = 122_880
#: Compacted-zone codec (cold tier; the raw zone appends snappy).
COMPRESSION = "zstd"
#: Closed days/months each scheduled run compacts (the reference's
#: ``duration``).
CLOSED_PERIODS = 1


def dates_in_range(
    duration: int,
    timezone: str,
    period: str = "day",
    now: dt.datetime | None = None,
) -> list[dt.date]:
    """Enumerate the last ``duration`` closed days/months (the current
    one excluded) in the agency's ``timezone`` (reference driver
    semantics, handler.py:150-167).  An aware ``now`` is converted to
    ``timezone``; a naive one is read as the agency's wall clock."""
    tz = ZoneInfo(timezone)
    if now is None:
        now = dt.datetime.now(tz)
    elif now.tzinfo is not None:
        now = now.astimezone(tz)
    today = now.date()
    out: list[dt.date] = []
    if period == "day":
        for i in range(1, duration + 1):
            out.append(today - dt.timedelta(days=i))
    elif period == "month":
        year, month = today.year, today.month - 1
        for _ in range(duration):
            if month < 1:
                month += 12
                year -= 1
            out.append(dt.date(year, month, 1))
            month -= 1
    else:
        raise ValueError(f"period must be day|month, got {period!r}")
    return out


def compact_partition(
    spark: SparkSession,
    source_root: str,
    target_root: str,
    year: int,
    month: int,
    day: int | None = None,
) -> int:
    """Rewrite one partition (day, or whole month when ``day`` is None)
    from the raw zone into the compacted zone: one zstd file per
    partition (more only past ``MAX_RECORDS_PER_FILE`` rows), sorted by
    ``timestamp``, stamped with the GeoParquet ``geo`` footer when the
    rows carry a ``geometry`` column.  Returns rows written.

    Partition-scoped read → partition pruning keeps this O(partition),
    never O(lake).  The rewrite itself is shuffle-free: coalesce only
    narrows parallelism, and the sort is within partitions.
    """
    part = f"year={year}/month={month}"
    if day is not None:
        part += f"/day={day}"
    src = f"{source_root}/{part}"
    df = spark.read.parquet(src)
    if "timestamp" in df.columns:
        df = df.sortWithinPartitions("timestamp")
    n = df.count()
    (
        df.coalesce(1)
        .write.mode("overwrite")
        .option("compression", COMPRESSION)
        .option("maxRecordsPerFile", str(MAX_RECORDS_PER_FILE))
        .parquet(f"{target_root}/{part}")
    )
    if "geometry" in df.columns:
        stamp_geoparquet(f"{target_root}/{part}", COMPRESSION)
    return n


def compact_partitions(
    spark: SparkSession,
    source_root: str,
    target_root: str,
    timezone: str,
    period: str = "day",
    now: dt.datetime | None = None,
) -> dict[str, int]:
    """The scheduled job body: compact the last :data:`CLOSED_PERIODS`
    closed day/month partitions, dated in the agency's ``timezone``
    (daily 01:00 / monthly day-1 crons in the reference,
    compaction/infrastructure/construct.py:102-140)."""
    written: dict[str, int] = {}
    for d in dates_in_range(CLOSED_PERIODS, timezone, period, now):
        day = d.day if period == "day" else None
        try:
            n = compact_partition(spark, source_root, target_root, d.year, d.month, day)
        except Exception as e:  # partition may not exist yet — skip like the reference
            if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
                continue
            raise
        key = f"{d.year}-{d.month:02d}" + (f"-{d.day:02d}" if day else "")
        written[key] = n
    return written
