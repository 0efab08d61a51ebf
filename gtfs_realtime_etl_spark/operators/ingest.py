"""Ingest enrichment: raw vehicle-position records → lake rows.

Replicates the reference's per-tick enrichment
(/root/reference/etl/runtime/handler.py:104-152) as one narrow (
shuffle-free) DataFrame transform:

- epoch seconds → session-timezone timestamp (:104-114)
- precision-7 geohash (:118-127) — native Column bit arithmetic here,
  a row-at-a-time Python loop there
- WKB point geometry, CRS84 (:131-141)
- per-row bbox covering struct (:146-152)
- year/month/day partition columns for the hive layout (:158-163)

Deviation from the reference, by design: we KEEP ``latitude`` /
``longitude`` doubles next to the WKB geometry (the reference drops them,
:142).  Lon/lat doubles are the compute representation — the spatial
join predicate and geohash all consume them; WKB is the interchange
representation.  Storage cost is 16 bytes/row against a ~21-byte WKB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.functions.geo import bbox_struct, geohash_encode, point_wkb
from gtfs_realtime_etl_spark.functions.time import to_zoned_ts
from gtfs_realtime_etl_spark.sources.lake import with_partition_cols


def enrich_positions(raw: DataFrame) -> DataFrame:
    """Pure transform: VEHICLE_POSITIONS_RAW schema in, lake schema out.

    Entirely narrow — no shuffle and no Python node; the WKB geometry is
    native Column ops too.
    """
    lat, lon = F.col("latitude"), F.col("longitude")
    df = (
        raw.withColumn("timestamp", to_zoned_ts(F.col("timestamp")))
        .withColumn("geohash", geohash_encode(lat, lon))
        .withColumn("bbox", bbox_struct(lon, lat))
        .withColumn("geometry", point_wkb(lon, lat))
    )
    return with_partition_cols(df)
