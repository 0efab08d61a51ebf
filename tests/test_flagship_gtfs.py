"""End-to-end semantic parity of the GTFS flagship pipeline:

raw positions → enrich → partitioned lake → schedule_deviation →
reliability, hash-compared against a DuckDB oracle running the
reference's exact SQL shape (schedule_deviation.ipynb cell 11/14) on
the very same lake files."""

from __future__ import annotations

import math
import os
import struct

import duckdb
import pandas as pd
import pytest

from gtfs_realtime_etl_spark.operators.ingest import enrich_positions
from gtfs_realtime_etl_spark.operators.schedule_deviation import (
    schedule_deviation,
    stop_reliability,
)
from gtfs_realtime_etl_spark.schemas import VEHICLE_POSITIONS_RAW
from gtfs_realtime_etl_spark.sources.gtfs_static import load_gtfs_static
from gtfs_realtime_etl_spark.sources.lake import (
    read_locations,
    write_locations_batch,
)
from tests.gtfs_fixtures import TZ, generate

ORACLE_SQL = """
SELECT stop_id, stop_lon, stop_lat,
       COUNT(diff) AS count,
       AVG(diff) AS avg_diff,
       STDDEV(diff) AS stddev_diff
FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY trip_id, stop_id, arrival_time, stop_sequence
      ORDER BY arrival_time ASC, ABS(diff) ASC, diff ASC) AS rn
  FROM (
    SELECT X.trip_id, S.stop_sequence, S.arrival_time,
           DATEDIFF('seconds', S.arrival_time::TIME,
                    strftime(Y.timestamp, '%H:%M:%S')::TIME) AS diff,
           S.stop_id, V.stop_lon, V.stop_lat
    FROM routes T
    JOIN trips X ON T.route_id = X.route_id
    JOIN stop_times S ON X.trip_id = S.trip_id
    JOIN stops V ON S.stop_id = V.stop_id
    JOIN locations Y
      ON X.trip_id = Y.trip_id
     AND sqrt((Y.longitude - V.stop_lon) ** 2 + (Y.latitude - V.stop_lat) ** 2)
         <= 0.0002
    WHERE NOT regexp_matches(S.arrival_time, '^(2[4-9]|3[0-5]):', 'c')
      AND (T.route_type = 700 OR T.route_type = 3)
  ) WHERE diff BETWEEN -600 AND 600
) WHERE rn = 1
GROUP BY stop_id, stop_lon, stop_lat
"""


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("gtfs_e2e")
    fx = generate(str(base))
    raw = spark.createDataFrame(fx.raw_positions, schema=VEHICLE_POSITIONS_RAW)
    enriched = enrich_positions(raw)
    lake_root = str(base / "lake")
    write_locations_batch(enriched, lake_root)
    return {"base": base, "fx": fx, "lake_root": lake_root}


def _oracle(lake_root: str, gtfs_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    con.execute(f"SET timezone = '{TZ}'")
    for t in ("routes", "trips", "stops", "stop_times"):
        # stop_id forced VARCHAR, reference parity (ipynb:264-280)
        types = ", types={'stop_id': 'VARCHAR'}" if t in ("stops", "stop_times") else ""
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_csv('{gtfs_dir}/{t}.txt'{types})"
        )
    con.execute(
        "CREATE VIEW locations AS SELECT * FROM "
        f"read_parquet('{lake_root}/year=*/month=*/day=*/*.parquet', hive_partitioning=true)"
    )
    return con.execute(ORACLE_SQL).df()


def test_flagship_matches_duckdb_oracle(spark, lake):
    tabs = load_gtfs_static(spark, lake["fx"].gtfs_dir)
    locations = read_locations(spark, lake["lake_root"])
    got = schedule_deviation(
        locations, tabs["routes"], tabs["trips"], tabs["stops"], tabs["stop_times"]
    ).toPandas()
    exp = _oracle(lake["lake_root"], lake["fx"].gtfs_dir)

    assert len(got) > 50, "flagship produced a trivial result"
    key = ["stop_id", "stop_lon", "stop_lat"]
    g = got.sort_values(key).reset_index(drop=True)
    e = exp.sort_values(key).reset_index(drop=True)
    assert len(g) == len(e)
    assert (g["stop_id"].values == e["stop_id"].values).all()
    assert (g["count"].values == e["count"].values).all()
    assert g["avg_diff"].values == pytest.approx(e["avg_diff"].values, abs=1e-9)
    mask = e["stddev_diff"].notna()
    assert mask.sum() > 10, "need multi-ping stops for stddev"
    assert g["stddev_diff"][mask].values == pytest.approx(
        e["stddev_diff"][mask].values, abs=1e-9
    )
    assert (g["stddev_diff"].isna() == e["stddev_diff"].isna()).all()

    # geometry: upper-case hex WKB of the stop point (F6 parity)
    i = g.index[0]
    wkb = struct.pack("<BIdd", 1, 1, g["stop_lon"][i], g["stop_lat"][i])
    assert g["geometry"][i] == wkb.hex().upper()


def test_reliability_matches_scipy_shape(spark, lake):
    tabs = load_gtfs_static(spark, lake["fx"].gtfs_dir)
    locations = read_locations(spark, lake["lake_root"])
    dev = schedule_deviation(
        locations, tabs["routes"], tabs["trips"], tabs["stops"], tabs["stop_times"]
    )
    rel = stop_reliability(dev).toPandas()
    assert len(rel) > 10
    assert rel["stddev_diff"].notna().all()  # dropna happened
    assert ((rel["reliability"] >= 0) & (rel["reliability"] <= 1)).all()

    # spot-check against the exact normal CDF (stdlib erf)
    def phi(x):
        return 0.5 * (1 + math.erf(x / math.sqrt(2)))

    for _, row in rel.head(20).iterrows():
        exp = phi((300 - row.avg_diff) / row.stddev_diff) - phi(
            (-60 - row.avg_diff) / row.stddev_diff
        )
        assert row.reliability == pytest.approx(exp, abs=2e-7)


def test_reliability_zero_variance_stop(spark):
    """A stop whose deviations are all equal has stddev 0.  Cell 14
    divides with numpy there: z = ±inf gives Φ = 0 or 1, and z is NaN
    (so is the reliability) when the mean sits on a window edge."""
    import numpy as np

    rows = [
        ("inside", 100.0, 0.0),
        ("early", -120.0, 0.0),
        ("late", 400.0, 0.0),
        ("on_edge", -60.0, 0.0),
        ("spread", 30.0, 90.0),
        ("single", 5.0, None),  # one event: dropped, as by dropna
    ]
    dev = spark.createDataFrame(
        rows, "stop_id string, avg_diff double, stddev_diff double"
    )
    got = stop_reliability(dev).toPandas().set_index("stop_id")

    exp = pd.DataFrame(rows, columns=["stop_id", "avg_diff", "stddev_diff"])
    exp = exp.dropna().set_index("stop_id")
    with np.errstate(divide="ignore", invalid="ignore"):
        z_min = (-60 - exp["avg_diff"]) / exp["stddev_diff"]
        z_max = (300 - exp["avg_diff"]) / exp["stddev_diff"]

    def phi(x):
        return 0.5 * (1 + math.erf(x / math.sqrt(2)))

    reliability = z_max.map(phi) - z_min.map(phi)
    assert sorted(got.index) == sorted(exp.index)
    assert got["z_min"].to_dict() == pytest.approx(z_min.to_dict(), nan_ok=True)
    assert got["z_max"].to_dict() == pytest.approx(z_max.to_dict(), nan_ok=True)
    assert got["reliability"].to_dict() == pytest.approx(
        reliability.to_dict(), abs=2e-7, nan_ok=True
    )
    # Spelled out: inside the window 1, outside 0, on an edge NaN.
    assert got.loc[["inside", "early", "late"], "reliability"].tolist() == [
        1.0,
        0.0,
        0.0,
    ]
    assert math.isnan(got.loc["on_edge", "reliability"])


def test_partition_pruning(spark, lake):
    """P5: a partition filter must prune the file scan (not post-filter)."""
    locations = read_locations(spark, lake["lake_root"])
    pruned = locations.filter("month = 3 AND day = 5")
    explained = pruned._jdf.queryExecution().executedPlan().toString()
    # partition filters appear as PartitionFilters in the scan node
    assert "PartitionFilters" in explained
    n_all = locations.count()
    n_day = pruned.count()
    assert 0 < n_day < n_all


def test_day_slice_arrow_handoff(spark, lake):
    """E3-secondary (visualize_locations.ipynb:46-48,97-129): a single
    day's partition, pruned at the file index, handed off as Arrow with
    the lake schema."""
    import pyarrow as pa

    from gtfs_realtime_etl_spark.sources.lake import day_slice, day_slice_arrow

    root = lake["lake_root"]
    sliced = day_slice(spark, root, 2024, 3, 5)
    # plan-time pruning: the scan's partition filters carry all 3 keys
    explained = sliced._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in explained
    # files read == exactly that day's files on disk (the scan node's
    # runtime numFiles metric — inputFiles() is pre-pruning)
    day_dir = os.path.join(root, "year=2024", "month=3", "day=5")
    n_files_on_disk = sum(f.endswith(".parquet") for f in os.listdir(day_dir))
    sliced.collect()
    jplan = sliced._jdf.queryExecution().executedPlan()
    leaves = jplan.collectLeaves()
    n_files_read = sum(
        leaves.apply(i).metrics().apply("numFiles").value()
        for i in range(leaves.length())
    )
    assert n_files_read == n_files_on_disk

    tbl = day_slice_arrow(spark, root, 2024, 3, 5)
    assert isinstance(tbl, pa.Table)
    assert tbl.num_rows == sliced.count() > 0
    assert set(tbl.column_names) == set(sliced.columns)
