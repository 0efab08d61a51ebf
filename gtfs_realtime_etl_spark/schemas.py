"""Explicit schemas for every table the engine reads or writes.

Mirrors the reference's data model (SURVEY.md §1):

- vehicle-position feed record: the flattened protobuf record with the
  explicit Arrow schema at /root/reference/etl/runtime/handler.py:86-98.
- enriched lake table ("locations"): post-ingest schema as observed by
  ``DESCRIBE locations`` (schedule_deviation.ipynb:440-461).
- GTFS static tables: only the columns the queries exercise, with the
  reference's ``stop_id``-forced-VARCHAR override (ipynb:264-280).

Positions use a pinned StructType (never inferred); GTFS static CSVs use
explicit schemas too — inference is allowed in the reference but pinning
is strictly safer and faster at scale (no sampling pass over 100 TB).
"""

from __future__ import annotations

from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

#: The raw flattened feed record (ingest input).
VEHICLE_POSITIONS_RAW = StructType(
    [
        StructField("trip_id", StringType()),
        StructField("route_id", StringType()),
        # NB: the reference populates direction_id from v.trip.route_id —
        # a bug at handler.py:65.  We read the real field; deviation is
        # documented in SURVEY.md §1.1.
        StructField("direction_id", StringType()),
        StructField("vehicle_id", StringType()),
        StructField("latitude", DoubleType()),
        StructField("longitude", DoubleType()),
        StructField("bearing", DoubleType()),
        StructField("speed", DoubleType()),
        StructField("timestamp", LongType()),  # epoch seconds
    ]
)

#: The enriched lake table ("locations") — the post-ingest schema as the
#: reference observes it via DESCRIBE locations (ipynb:440-461), plus
#: the lat/lon doubles we deliberately keep (operators/ingest.py) and
#: the hive partition columns.  Readers PIN this schema: the reference
#: hit exactly the schema-drift failure this prevents and works around
#: it by forcing a unified schema at compaction time
#: (compaction/runtime/handler.py:86-102) — with a pinned read schema a
#: corrupt or evolved file can never silently mutate the table shape.
LOCATIONS_LAKE = StructType(
    [
        StructField("trip_id", StringType()),
        StructField("route_id", StringType()),
        StructField("direction_id", StringType()),
        StructField("vehicle_id", StringType()),
        StructField("latitude", DoubleType()),
        StructField("longitude", DoubleType()),
        StructField("bearing", DoubleType()),
        StructField("speed", DoubleType()),
        StructField("timestamp", TimestampType()),
        StructField("geohash", StringType()),
        StructField("bbox", StructType(
            [
                StructField("xmin", DoubleType()),
                StructField("ymin", DoubleType()),
                StructField("xmax", DoubleType()),
                StructField("ymax", DoubleType()),
            ]
        )),
        StructField("geometry", BinaryType()),
        StructField("year", IntegerType()),
        StructField("month", IntegerType()),
        StructField("day", IntegerType()),
    ]
)

#: GTFS static dimension tables (CSV with header).
GTFS_ROUTES = StructType(
    [
        StructField("route_id", StringType()),
        StructField("route_short_name", StringType()),
        StructField("route_type", IntegerType()),
    ]
)

GTFS_TRIPS = StructType(
    [
        StructField("trip_id", StringType()),
        StructField("route_id", StringType()),
        StructField("service_id", StringType()),
        StructField("direction_id", IntegerType()),
        StructField("shape_id", StringType()),
    ]
)

GTFS_STOPS = StructType(
    [
        StructField("stop_id", StringType()),  # forced VARCHAR (ipynb:267-271)
        StructField("stop_name", StringType()),
        StructField("stop_lat", DoubleType()),
        StructField("stop_lon", DoubleType()),
    ]
)

GTFS_STOP_TIMES = StructType(
    [
        StructField("trip_id", StringType()),
        StructField("arrival_time", StringType()),  # "HH:MM:SS", hours may be 24-35
        StructField("departure_time", StringType()),
        StructField("stop_id", StringType()),  # forced VARCHAR (ipynb:279-280)
        StructField("stop_sequence", IntegerType()),
    ]
)

GTFS_SHAPES = StructType(
    [
        StructField("shape_id", StringType()),
        StructField("shape_pt_lat", DoubleType()),
        StructField("shape_pt_lon", DoubleType()),
        StructField("shape_pt_sequence", IntegerType()),
    ]
)

GTFS_STATIC_SCHEMAS = {
    "routes": GTFS_ROUTES,
    "trips": GTFS_TRIPS,
    "stops": GTFS_STOPS,
    "stop_times": GTFS_STOP_TIMES,
    "shapes": GTFS_SHAPES,
}
