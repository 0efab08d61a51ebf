"""Per-agency env-driven configuration (reference ETLSettings parity:
etl/infrastructure/config.py:11-38 — feed URL, API key + header, IANA
timezone, cadence, destination bucket per agency; deploy.sh:4-8 shows
two cities deployed from two env files).  Ingest runs over HTTP against
local feed endpoints."""

from __future__ import annotations

import datetime as dt
import http.server
import json
import os
import threading
import time

import pytest

from gtfs_realtime_etl_spark.config import AgencyConfig
from gtfs_realtime_etl_spark.schemas import VEHICLE_POSITIONS_RAW
from gtfs_realtime_etl_spark.sources.gtfs_rt import encode_feed, parse_feed
from gtfs_realtime_etl_spark.sources.gtfs_rt_source import GtfsRtStreamReader
from gtfs_realtime_etl_spark.sources.lake import read_locations

N_TICKS = 3

TWO_CITY_ENV = {
    # city 1: Edmonton-shaped (reference defaults)
    "YEG_VEH_POSITION_URL": "https://transit.example/yeg/vehicle-positions.pb",
    "YEG_SCHEDULE_SECONDS": "60",
    "YEG_TIMEZONE": "America/Edmonton",
    "YEG_DESTINATION_BUCKET": "__set_in_test__",
    # city 2: Toronto-shaped, API-key protected
    "YYZ_VEH_POSITION_URL": "https://transit.example/yyz/vehicle-positions.pb",
    "YYZ_SCHEDULE_SECONDS": "30",
    "YYZ_TIMEZONE": "America/Toronto",
    "YYZ_DESTINATION_BUCKET": "__set_in_test__",
    "YYZ_API_KEY": "sekrit",
    "YYZ_API_KEY_HEADER": "x-api-key",
}


def test_two_city_configs_from_env_alone(tmp_path):
    env = dict(TWO_CITY_ENV)
    env["YEG_DESTINATION_BUCKET"] = str(tmp_path / "yeg_lake")
    env["YYZ_DESTINATION_BUCKET"] = str(tmp_path / "yyz_lake")

    yeg = AgencyConfig.from_env(prefix="YEG_", env=env)
    yyz = AgencyConfig.from_env(prefix="YYZ_", env=env)

    assert yeg.veh_position_url.endswith("/yeg/vehicle-positions.pb")
    assert yeg.schedule_seconds == 60
    assert yeg.timezone == "America/Edmonton"
    assert yeg.request_headers() == {}  # no API key configured

    assert yyz.schedule_seconds == 30
    assert yyz.timezone == "America/Toronto"
    assert yyz.request_headers() == {"x-api-key": "sekrit"}


def test_unprefixed_reference_env_names():
    """prefix='' is drop-in parity with the reference lambda's env."""
    env = {
        "VEH_POSITION_URL": "https://transit.example/vp.pb",
        "TIMEZONE": "America/Vancouver",
        "SCHEDULE_SECONDS": "45",
    }
    cfg = AgencyConfig.from_env(prefix="", env=env)
    assert cfg.veh_position_url == "https://transit.example/vp.pb"
    assert cfg.timezone == "America/Vancouver"
    assert cfg.schedule_seconds == 45
    assert cfg.lake_root is None


def test_two_city_pipelines_from_env(spark, tmp_path, monkeypatch):
    """Two configs drive two isolated ingest pipelines end-to-end (the
    deployment story: same code, different env prefix per city)."""
    import pandas as pd

    from gtfs_realtime_etl_spark.operators.ingest import enrich_positions
    from gtfs_realtime_etl_spark.sources.lake import write_locations_batch

    env = dict(TWO_CITY_ENV)
    env["YEG_DESTINATION_BUCKET"] = str(tmp_path / "yeg_lake")
    env["YYZ_DESTINATION_BUCKET"] = str(tmp_path / "yyz_lake")
    cities = [AgencyConfig.from_env(prefix=p, env=env) for p in ("YEG_", "YYZ_")]

    base_ts = 1_709_600_000
    for i, cfg in enumerate(cities):
        rows = [
            {
                "trip_id": f"t{i}{j}",
                "route_id": f"r{i}",
                "direction_id": None,
                "vehicle_id": f"veh{i}{j}",
                "latitude": 53.5 + i,
                "longitude": -113.5 - i,
                "bearing": None,
                "speed": None,
                "timestamp": base_ts + j,
            }
            for j in range(5)
        ]
        raw = spark.createDataFrame(pd.DataFrame(rows), schema=VEHICLE_POSITIONS_RAW)
        write_locations_batch(enrich_positions(raw), cfg.lake_root)

    yeg_lake = read_locations(spark, cities[0].lake_root)
    yyz_lake = read_locations(spark, cities[1].lake_root)
    assert yeg_lake.count() == 5 and yyz_lake.count() == 5
    # isolation: each city's rows only in its own lake
    assert yeg_lake.filter("route_id = 'r0'").count() == 5
    assert yyz_lake.filter("route_id = 'r1'").count() == 5


def test_compact_in_agency_time_zone(spark, tmp_path):
    """``AgencyConfig.compact`` is the daily cron on the agency's lake: at
    a fixed ``now`` the last closed day is rewritten with its rows
    conserved under its ``YYYY-MM-DD`` key; an unset lake root fails."""
    import pandas as pd

    from gtfs_realtime_etl_spark.operators.ingest import enrich_positions
    from gtfs_realtime_etl_spark.sources.lake import write_locations_batch

    cfg = AgencyConfig(lake_root=str(tmp_path / "raw"))
    noon_utc = 1_709_661_600  # 2024-03-05 18:00 UTC, the 5th in the Americas
    rows = [
        {
            "trip_id": f"t{j}",
            "route_id": "r0",
            "direction_id": None,
            "vehicle_id": f"veh{j}",
            "latitude": 53.5,
            "longitude": -113.5,
            "bearing": None,
            "speed": None,
            "timestamp": noon_utc + j,
        }
        for j in range(6)
    ]
    raw = spark.createDataFrame(pd.DataFrame(rows), schema=VEHICLE_POSITIONS_RAW)
    write_locations_batch(enrich_positions(raw), cfg.lake_root)

    daily = str(tmp_path / "daily")
    written = cfg.compact(spark, daily, "day", now=dt.datetime(2024, 3, 6, 1, 0))
    assert written == {"2024-03-05": 6}
    assert read_locations(spark, daily).count() == 6

    with pytest.raises(ValueError, match="lake_root"):
        AgencyConfig().compact(spark, daily, "day")


@pytest.fixture()
def city_feeds():
    """One local feed endpoint per city (YEG, YYZ): the n-th GET returns
    tick n's FeedMessage (the last tick repeats), and every request's
    headers are recorded."""
    base_ts = 1_709_650_800  # 2024-03-05
    feeds, servers = [], []
    for i in range(2):
        payloads = [
            encode_feed(
                [
                    {
                        "trip_id": f"t{i}{tick}{j}",
                        "route_id": f"r{i}",
                        "vehicle_id": f"veh{i}{j}",
                        "latitude": 53.5 + i,
                        "longitude": -113.5 - i,
                        "timestamp": base_ts + tick * 60 + j,
                    }
                    for j in range(4)
                ]
            )
            for tick in range(N_TICKS)
        ]
        seen: list[dict[str, str]] = []

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_GET(self, payloads=payloads, seen=seen):
                seen.append({k.lower(): v for k, v in self.headers.items()})
                body = payloads[min(len(seen), len(payloads)) - 1]
                self.send_response(200)
                self.send_header("Content-Type", "application/x-protobuf")
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):  # quiet
                pass

        srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        servers.append(srv)
        feeds.append((f"http://127.0.0.1:{srv.server_address[1]}/vp.pb", seen))
    yield feeds
    for srv in servers:
        srv.shutdown()


def test_poll_once_uses_configured_headers(tmp_path, city_feeds):
    """One poll of the ``gtfs_rt`` reader with the options
    ``start_ingest`` passes it: the configured API key header reaches the
    HTTP request and the payload lands atomically in the spool
    (handler.py:43-54 parity)."""
    _, (url, seen) = city_feeds
    env = dict(TWO_CITY_ENV)
    env["YYZ_VEH_POSITION_URL"] = url
    cfg = AgencyConfig.from_env(prefix="YYZ_", env=env)

    spool = tmp_path / "spool"
    reader = GtfsRtStreamReader(
        {
            "url": cfg.veh_position_url,
            "spool_dir": str(spool),
            "headers": json.dumps(cfg.request_headers()),
        }
    )
    rows, end = reader.read(reader.initialOffset())
    ((_, payload),) = list(rows)
    assert end == {"tick": 1}
    assert len(parse_feed(payload)) == 4

    (name,) = os.listdir(spool)  # no torn .tmp left behind
    assert name.endswith(".pb")
    assert (spool / name).read_bytes() == payload
    assert len(seen) == 1 and seen[0]["x-api-key"] == "sekrit"


def test_two_city_ingest_through_config(spark, tmp_path, city_feeds):
    """The full deployment loop from env alone: AgencyConfig →
    cfg.start_ingest (one configured GET per micro-batch through the
    ``gtfs_rt`` source, at the configured cadence) → each city's lake:
    the API-key header reaches only the keyed city's endpoint, and the
    lakes are isolated, enriched and partitioned."""
    env = dict(TWO_CITY_ENV)
    for prefix, (url, _) in zip(("YEG_", "YYZ_"), city_feeds):
        env[f"{prefix}VEH_POSITION_URL"] = url
        env[f"{prefix}SCHEDULE_SECONDS"] = "1"
        env[f"{prefix}DESTINATION_BUCKET"] = str(tmp_path / f"{prefix}lake")
    cities = [AgencyConfig.from_env(prefix=p, env=env) for p in ("YEG_", "YYZ_")]
    assert [c.schedule_seconds for c in cities] == [1, 1]

    expected = 4 * N_TICKS
    queries = [
        cfg.start_ingest(
            spark,
            spool_dir=str(tmp_path / f"spool{i}"),
            checkpoint_dir=str(tmp_path / f"ckpt{i}"),
            max_ticks=N_TICKS,
        )
        for i, cfg in enumerate(cities)
    ]
    try:
        deadline = time.time() + 180
        while time.time() < deadline:
            try:
                counts = [read_locations(spark, c.lake_root).count() for c in cities]
            except Exception:  # a lake dir not created yet
                counts = [0, 0]
            if min(counts) >= expected:
                break
            time.sleep(1)
    finally:
        for q in queries:
            q.stop()

    (_, yeg_seen), (_, yyz_seen) = city_feeds
    assert len(yeg_seen) == len(yyz_seen) == N_TICKS  # max_ticks bounds the poll
    assert all(h.get("x-api-key") == "sekrit" for h in yyz_seen)
    assert not any("x-api-key" in h for h in yeg_seen)

    for i, cfg in enumerate(cities):
        lake = read_locations(spark, cfg.lake_root)
        assert lake.count() == expected, cfg.name
        assert lake.filter(f"route_id = 'r{i}'").count() == expected  # isolation
        assert {"geohash", "geometry", "bbox", "year", "month", "day"} <= set(
            lake.columns
        )
        assert lake.filter("year = 2024 AND month = 3").count() == expected
