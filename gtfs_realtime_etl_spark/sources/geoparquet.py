"""GeoParquet interop: stamp the ``geo`` footer metadata onto lake files.

The reference writes its positions parquet through a GeoParquet writer
(etl/runtime/handler.py:146-152: WKB encoding, generated bbox covering),
which embeds the spec'd ``geo`` key-value metadata in the parquet footer
so external geo readers (GDAL/GeoPandas/DuckDB-spatial) recognize the
geometry column.  Spark's parquet writer has no hook for custom footer
key-values, so the engine provides the metadata as a post-pass over
written files: :func:`stamp_geoparquet` rewrites each footer via pyarrow.
Compaction (streaming/compaction.py) runs it on every file it writes,
since it re-encodes those files anyway; the hot raw zone is never
stamped.  The geometry bytes themselves are already byte-identical WKB
(functions/geo.py::point_wkb), so stamped files are valid GeoParquet
1.1.0 point datasets.

The metadata follows the public GeoParquet 1.1.0 spec: version,
primary_column, per-column encoding / geometry_types / crs (OGC CRS84,
matching the reference's ``ga.with_crs(..., ga.OGC_CRS84)``), plus the
bbox covering struct column the engine writes
(operators/ingest.py::bbox_struct).
"""

from __future__ import annotations

import glob
import json
import os

#: Minimal OGC:CRS84 PROJJSON, as GeoParquet writers embed for lon/lat.
_CRS84 = {
    "type": "GeographicCRS",
    "name": "WGS 84 (CRS84)",
    "id": {"authority": "OGC", "code": "CRS84"},
}

#: The lake's WKB point column and its bbox covering struct column.
GEOMETRY_COL = "geometry"
BBOX_COL = "bbox"


def geo_metadata(bbox: list[float] | None = None) -> dict:
    """The ``geo`` footer value (GeoParquet 1.1.0) for the WKB point
    column :data:`GEOMETRY_COL` with its :data:`BBOX_COL` covering
    column."""
    column: dict = {
        "encoding": "WKB",
        "geometry_types": ["Point"],
        "crs": _CRS84,
    }
    if bbox is not None:
        column["bbox"] = bbox
    column["covering"] = {
        "bbox": {
            "xmin": [BBOX_COL, "xmin"],
            "ymin": [BBOX_COL, "ymin"],
            "xmax": [BBOX_COL, "xmax"],
            "ymax": [BBOX_COL, "ymax"],
        }
    }
    return {
        "version": "1.1.0",
        "primary_column": GEOMETRY_COL,
        "columns": {GEOMETRY_COL: column},
    }


def stamp_geoparquet(path: str, compression: str) -> int:
    """Attach the ``geo`` footer metadata to every parquet file under
    ``path`` (recursively; hive partition dirs welcome), rewriting each
    with ``compression``.  Returns the number of files stamped.  Each
    file's dataset-level bbox is computed from its own bbox covering
    column when present.

    This is a per-file rewrite (parquet footers are not editable in
    place), which is why only compaction, whose files are being
    rewritten anyway, runs it.
    """
    import pyarrow.compute as pc  # local import: cold path
    import pyarrow.parquet as pq

    files = sorted(
        glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    for f in files:
        table = pq.read_table(f)
        bbox = None
        if BBOX_COL in table.column_names:
            col = table.column(BBOX_COL)
            bbox = [
                pc.min(pc.struct_field(col, "xmin")).as_py(),
                pc.min(pc.struct_field(col, "ymin")).as_py(),
                pc.max(pc.struct_field(col, "xmax")).as_py(),
                pc.max(pc.struct_field(col, "ymax")).as_py(),
            ]
        meta = dict(table.schema.metadata or {})
        meta[b"geo"] = json.dumps(geo_metadata(bbox)).encode()
        table = table.replace_schema_metadata(meta)
        # Write-aside + atomic rename: a crash mid-rewrite must never
        # leave the ONLY copy of a compacted file truncated.
        tmp = os.path.join(
            os.path.dirname(f), f".{os.path.basename(f)}.stamping"
        )
        pq.write_table(table, tmp, compression=compression)
        os.replace(tmp, f)
        # Hadoop's checksummed LocalFileSystem keeps a .crc sidecar per
        # file it wrote; the rewrite invalidates it — drop it or Spark
        # refuses to read the stamped file back.
        crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    return len(files)
