"""Readers and writers: GTFS static CSV, the partitioned lake, the
GTFS-RT protobuf wire codec (+ quarantine channel), the native
``gtfs_rt`` HTTP streaming source, GeoParquet footer interop, and the
testdata star schema.

Import each name from the module that defines it."""
