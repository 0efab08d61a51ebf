"""Geospatial column functions.

Replicates the reference's geo surface (cf. /root/reference/etl/runtime/
handler.py:118-152 for geohash/WKB/bbox on the write path and
/root/reference/notebooks/schedule_deviation.ipynb:596-598 for the
``ST_DWithin`` join predicate) as Spark Column expressions.

Design notes for scale:

- ``geohash_encode`` is PURE Column bit arithmetic — ~70 JVM expressions
  that stay inside whole-stage codegen.  No Python boundary on the hot
  enrichment path.
- ``ST_DWithin`` on unprojected CRS84 coordinates is planar Euclidean
  *degree* distance in DuckDB-spatial; we reproduce exactly that (not
  haversine) for parity.
- WKB construction is native Column ops too: ``reflect`` reads each
  double's IEEE-754 bits through ``Double.doubleToRawLongBits``, and
  string ops reorder them little-endian.  Ingest enrichment and the
  flagship's stop geometry both call it, so neither plan has a Python
  boundary.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"

#: Geohash length the lake stores (the reference's ``geohash`` column).
GEOHASH_PRECISION = 7


def geohash_encode(lat: Column, lon: Column) -> Column:
    """Geohash of (lat, lon) at :data:`GEOHASH_PRECISION`, as native
    Column ops.

    Classic geohash: quantize lon/lat into ``ceil(5p/2)`` / ``floor(5p/2)``
    bit integers, bit-interleave (lon first), emit 5-bit groups as base32.
    Matches ``pygeohash.encode`` (reference write path, handler.py:118-127).
    """
    nbits = 5 * GEOHASH_PRECISION
    lon_bits = (nbits + 1) // 2
    lat_bits = nbits // 2

    lon_max = (1 << lon_bits) - 1
    lat_max = (1 << lat_bits) - 1
    lon_int = F.least(
        F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(1 << lon_bits))),
        F.lit(lon_max),
    )
    lat_int = F.least(
        F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(1 << lat_bits))),
        F.lit(lat_max),
    )

    # Interleave: combined bit (nbits-1-k) is lon bit for even k, lat for odd.
    combined = F.lit(0).cast("long")
    for k in range(nbits):
        out_shift = nbits - 1 - k
        if k % 2 == 0:  # longitude bit
            src, src_shift = lon_int, lon_bits - 1 - (k // 2)
        else:  # latitude bit
            src, src_shift = lat_int, lat_bits - 1 - (k // 2)
        bit = F.shiftright(src, src_shift).bitwiseAND(F.lit(1))
        combined = combined + F.shiftleft(bit, out_shift)

    chars = [
        F.substring(
            F.lit(_BASE32),
            F.shiftright(combined, 5 * (GEOHASH_PRECISION - 1 - i)).bitwiseAND(F.lit(31)) + 1,
            1,
        )
        for i in range(GEOHASH_PRECISION)
    ]
    return F.concat(*chars)


def euclid_degree_dist(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Planar Euclidean distance in degrees — DuckDB-spatial ``ST_Distance``
    semantics on unprojected CRS84 points (schedule_deviation.ipynb:598)."""
    return F.sqrt(F.pow(lon1 - lon2, F.lit(2)) + F.pow(lat1 - lat2, F.lit(2)))


def dwithin(lon1: Column, lat1: Column, lon2: Column, lat2: Column, radius: float) -> Column:
    """``ST_DWithin(p1, p2, radius)`` — planar degree distance ≤ radius."""
    return euclid_degree_dist(lon1, lat1, lon2, lat2) <= F.lit(radius)


def bbox_struct(lon: Column, lat: Column) -> Column:
    """Degenerate per-point bbox covering struct, as written by the
    reference's GeoParquet writer (handler.py:146-152)."""
    return F.struct(
        lon.alias("xmin"), lat.alias("ymin"), lon.alias("xmax"), lat.alias("ymax")
    )


def _le_hex_bits(x: Column) -> Column:
    """Hex of a double's IEEE-754 bits, least significant byte first;
    NULL for a NULL or NaN value (``reflect`` must never see a NULL: it
    cannot pass one to a primitive parameter)."""
    bits = F.reflect(F.lit("java.lang.Double"), F.lit("doubleToRawLongBits"), x)
    be = F.lpad(F.hex(bits.cast("long")), 16, "0")
    le = F.concat(*[F.substring(be, pos, 2) for pos in range(15, 0, -2)])
    return F.when(x.isNotNull() & ~F.isnan(x), le)


def point_wkb(lon: Column, lat: Column) -> Column:
    """WKB point (lon, lat) — byte-identical to the reference's geoarrow
    ``as_wkb`` output (handler.py:131-141): 0x01 (little-endian), uint32
    type 1, float64 x, float64 y.  NULL when either coordinate is NULL
    or NaN."""
    return F.unhex(F.concat(F.lit("0101000000"), _le_hex_bits(lon), _le_hex_bits(lat)))


def hex_wkb(wkb: Column) -> Column:
    """Upper-case hex of a WKB column — DuckDB ``ST_AsHEXWKB`` parity
    (schedule_deviation.ipynb:571)."""
    return F.upper(F.hex(wkb))
