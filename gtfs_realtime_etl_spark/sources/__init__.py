"""Readers and writers: GTFS static CSV, the partitioned lake, the
GTFS-RT protobuf wire codec (+ quarantine channel), the native
``gtfs_rt`` HTTP streaming source, GeoParquet footer interop, and the
testdata star schema."""

from gtfs_realtime_etl_spark.sources.geoparquet import geo_metadata, stamp_geoparquet
from gtfs_realtime_etl_spark.sources.gtfs_rt import (
    decode_feed_frames,
    encode_feed,
    parse_feed,
    quarantine_feed_frames,
)
from gtfs_realtime_etl_spark.sources.gtfs_static import load_gtfs_static
from gtfs_realtime_etl_spark.sources.lake import (
    day_slice,
    day_slice_arrow,
    read_locations,
    write_locations_batch,
)
from gtfs_realtime_etl_spark.sources.testdata import load_testdata

__all__ = [
    "day_slice",
    "day_slice_arrow",
    "decode_feed_frames",
    "encode_feed",
    "geo_metadata",
    "load_gtfs_static",
    "load_testdata",
    "parse_feed",
    "quarantine_feed_frames",
    "read_locations",
    "stamp_geoparquet",
    "write_locations_batch",
]
