"""GTFS static (dimension) table loaders.

The reference loads trips/stops/routes/shapes/stop_times from CSV with
inferred schemas plus a ``stop_id``-forced-VARCHAR override
(reference ``notebooks/schedule_deviation.ipynb:264-280``).  We pin
explicit schemas (schemas.py) — inference costs an extra pass and can
flip types between feeds; pinned, ``stop_id`` is a string everywhere,
which is what the reference's override achieves.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from gtfs_realtime_etl_spark.schemas import GTFS_STATIC_SCHEMAS


def load_gtfs_static(
    spark: SparkSession,
    gtfs_dir: str,
    tables: tuple[str, ...] = ("routes", "trips", "stops", "stop_times", "shapes"),
) -> dict[str, DataFrame]:
    """Load GTFS static CSVs (``{gtfs_dir}/{table}.txt``) as DataFrames.

    Dimension tables are small relative to the positions fact table
    (stops ~11k, routes ~tens; stop_times is the big one at ~4.3M rows
    for TTC) — join-side broadcast decisions are left to AQE/Catalyst.
    """
    return {
        t: spark.read.option("header", True)
        .schema(GTFS_STATIC_SCHEMAS[t])
        .csv(os.path.join(gtfs_dir, f"{t}.txt"))
        for t in tables
    }
