"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same pair
always writes the same files.  Outputs are cached on disk under a key
made of the workload, the seed and the size, so a repeated run reuses
them and generation stays out of every timed window.

- :func:`flagship_tables` — GTFS static tables plus multi-day raw
  vehicle positions in the shape of ``scripts/flagship_anchor.py``.
- :func:`registry_tables` — the TPC-H-ish star schema plus the
  ``events``/``documents``/``embeddings`` tables the registry reads.
- :func:`feed_ticks` — GTFS-RT FeedMessage payloads, one per poll tick,
  with stale repeats and corrupt payloads mixed in.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import zoneinfo

import numpy as np
import pandas as pd

TZ = "America/Toronto"
STOPS_PER_TRIP = 30
N_STOPS = 2_000
N_ROUTES = 200


def is_cached(path: str) -> bool:
    return os.path.exists(os.path.join(path, "meta.json"))


def cached(cache_root: str, key: str, build) -> str:
    """Return ``cache_root/key``, running ``build(tmp_dir) -> meta`` first
    if the entry is missing.  The entry appears atomically (rename), so a
    run killed mid-build never leaves a half-written cache entry."""
    path = os.path.join(cache_root, key)
    if is_cached(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    write_meta(tmp, build(tmp))
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def _hms(secs: np.ndarray) -> np.ndarray:
    secs = secs.astype(np.int64)
    return np.char.add(
        np.char.add(np.char.zfill((secs // 3600).astype(str), 2), ":"),
        np.char.add(
            np.char.add(np.char.zfill((secs % 3600 // 60).astype(str), 2), ":"),
            np.char.zfill((secs % 60).astype(str), 2),
        ),
    )


# --- flagship lake -------------------------------------------------------


def flagship_tables(out_dir: str, seed: int, fact_rows: int, days: int = 3) -> dict:
    """GTFS static CSVs (``out_dir/gtfs/*.txt``) and raw positions
    (``out_dir/raw/day=<i>.parquet``, VEHICLE_POSITIONS_RAW columns).

    Shape of the reference's schedule-deviation measurement at
    ``fact_rows / 21.3M`` scale: stop_times is a fifth of the fact table,
    30 stops per trip, a trip-keyed join whose spatial residual selects
    about half of the pings, and deviations spread over ±900 s so the
    ±600 s band filter bites.  The pings near one stop have pairwise
    distinct deviations, so no stop's deviations are all equal:
    ``stop_reliability`` divides by their standard deviation, and a zero
    there fails the request.  A few trips run past midnight (hours ≥ 24)
    so the wraparound filter has rows to drop."""
    rng = np.random.default_rng(seed)
    dim_rows = max(fact_rows // 5, STOPS_PER_TRIP * 10)
    n_trips = dim_rows // STOPS_PER_TRIP
    gtfs = os.path.join(out_dir, "gtfs")
    raw = os.path.join(out_dir, "raw")
    os.makedirs(gtfs)
    os.makedirs(raw)

    # route types: 3 and 700 are kept by the flagship filter, 1 is not
    route_type = rng.choice([3, 700, 1], size=N_ROUTES, p=[0.8, 0.1, 0.1])
    pd.DataFrame({
        "route_id": [f"R{i}" for i in range(N_ROUTES)],
        "route_short_name": [str(i) for i in range(N_ROUTES)],
        "route_type": route_type,
    }).to_csv(os.path.join(gtfs, "routes.txt"), index=False)

    trip_route = rng.integers(0, N_ROUTES, n_trips)
    pd.DataFrame({
        "trip_id": [f"T{i}" for i in range(n_trips)],
        "route_id": [f"R{r}" for r in trip_route],
        "service_id": "S",
        "direction_id": rng.integers(0, 2, n_trips),
        "shape_id": [f"SH{r}" for r in trip_route],
    }).to_csv(os.path.join(gtfs, "trips.txt"), index=False)

    stop_lat = np.round(43.60 + rng.integers(0, 2000, N_STOPS) * 1e-4, 6)
    stop_lon = np.round(-79.60 + rng.integers(0, 400, N_STOPS) * 1e-3
                        + rng.integers(0, 5, N_STOPS) * 2e-5, 6)
    pd.DataFrame({
        "stop_id": [str(i) for i in range(N_STOPS)],
        "stop_name": [f"Stop {i}" for i in range(N_STOPS)],
        "stop_lat": stop_lat,
        "stop_lon": stop_lon,
    }).to_csv(os.path.join(gtfs, "stops.txt"), index=False)

    # trip start: 06:00 + up to 4 h; 3% start at 23:30 and cross midnight
    start = 6 * 3600 + rng.integers(0, 240, n_trips) * 60
    start[rng.random(n_trips) < 0.03] = 23 * 3600 + 1800
    trip_stops = rng.integers(0, N_STOPS, (n_trips, STOPS_PER_TRIP))
    t = np.repeat(np.arange(n_trips), STOPS_PER_TRIP)
    j = np.tile(np.arange(STOPS_PER_TRIP), n_trips)
    arr = start[t] + j * 90
    pd.DataFrame({
        "trip_id": np.char.add("T", t.astype(str)),
        "arrival_time": _hms(arr),
        "departure_time": _hms(arr + 10),
        "stop_id": trip_stops[t, j].astype(str),
        "stop_sequence": j,
    }).to_csv(os.path.join(gtfs, "stop_times.txt"), index=False)

    tz = zoneinfo.ZoneInfo(TZ)
    first_day = dt.date(2024, 3, 4) + dt.timedelta(days=int(rng.integers(0, 28)))
    day_list, day_rows = [], []
    per_day = fact_rows // days
    # a stop's k-th ping deviates by (base + 7k) mod 1800 - 900 seconds:
    # 7 is coprime to 1800, so a stop's deviations repeat only after 1800
    # pings
    dev_base = rng.integers(0, 1800, N_STOPS)
    stop_pings = np.zeros(N_STOPS, dtype=np.int64)
    for d in range(days):
        day = first_day + dt.timedelta(days=d)
        nxt = day + dt.timedelta(days=1)
        midnight = int(dt.datetime(day.year, day.month, day.day, tzinfo=tz).timestamp())
        # 23 or 25 hours on a daylight-saving change
        day_len = int(dt.datetime(nxt.year, nxt.month, nxt.day, tzinfo=tz).timestamp()) - midnight
        pt = rng.integers(0, n_trips, per_day)
        pj = rng.integers(0, STOPS_PER_TRIP, per_day)
        ps = trip_stops[pt, pj]
        jitter = rng.integers(0, 4, per_day) * 6e-5  # half in, half out of 2e-4
        order = np.argsort(ps, kind="stable")
        first = np.r_[True, ps[order][1:] != ps[order][:-1]]
        group_start = np.maximum.accumulate(np.where(first, np.arange(per_day), 0))
        rank = np.empty(per_day, dtype=np.int64)
        rank[order] = stop_pings[ps[order]] + np.arange(per_day) - group_start
        stop_pings += np.bincount(ps, minlength=N_STOPS)
        dev = (dev_base[ps] + 7 * rank) % 1800 - 900
        # keep every ping on its own day: a past-midnight ping wraps to the
        # early morning, far outside the ±600 s band
        secs = (start[pt] + pj * 90 + dev) % day_len
        pd.DataFrame({
            "trip_id": np.char.add("T", pt.astype(str)),
            "route_id": np.char.add("R", trip_route[pt].astype(str)),
            "direction_id": rng.integers(0, 2, per_day).astype(str),
            "vehicle_id": np.char.add("V", (pt % 3000).astype(str)),
            "latitude": stop_lat[ps] + jitter,
            "longitude": stop_lon[ps] + jitter,
            "bearing": rng.integers(0, 360, per_day).astype(np.float64),
            "speed": np.round(rng.random(per_day) * 20, 2),
            "timestamp": midnight + secs,
        }).to_parquet(os.path.join(raw, f"day={d}.parquet"), index=False)
        day_list.append([day.year, day.month, day.day])
        day_rows.append(per_day)
    return {"days": day_list, "day_rows": day_rows, "fact_rows": per_day * days,
            "dim_rows": int(n_trips * STOPS_PER_TRIP)}


# --- registry star schema ------------------------------------------------

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_PART_ADJ = "red new hot small big old cold blue".split()
_PART_NOUN = "bolt anvil ring rod plate nut gear pipe".split()


def _ts_us(rng, n: int, lo: dt.datetime, hi: dt.datetime, whole_days: bool) -> np.ndarray:
    lo_us, hi_us = (int(x.timestamp() * 1e6) for x in (lo, hi))
    v = rng.integers(lo_us, hi_us, n)
    if whole_days:
        v -= v % 86_400_000_000
    return v.astype("datetime64[us]")


def registry_tables(out_dir: str, seed: int, sf: float) -> dict:
    """One parquet file per table (``<name>.parquet``), with the columns,
    types and value domains of the engine's reference testdata at scale
    factor ``sf`` (lineitem = 6M × sf rows)."""
    rng = np.random.default_rng(seed)
    utc = dt.timezone.utc
    n = {
        "customer": int(150_000 * sf), "supplier": max(int(10_000 * sf), 10),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf), "embeddings": int(50_000 * sf),
    }

    def write(name: str, cols: dict) -> None:
        pd.DataFrame(cols).to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)

    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write("region", {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": names})
    write("nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    c = n["customer"]
    write("customer", {
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, c), 2),
        "c_mktsegment": rng.choice(
            ["BUILDING", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE"], c),
    })
    s = n["supplier"]
    write("supplier", {
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, s), 2),
    })
    p = n["part"]
    write("part", {
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": np.char.add(np.char.add(rng.choice(_PART_ADJ, p), " "),
                              rng.choice(_PART_NOUN, p)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, p).astype(str)),
        "p_type": rng.choice(["PROMO", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD"], p),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, p) * 0.1, 1),
    })
    o = n["orders"]
    write("orders", {
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "P", "F"], o),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, o), 2),
        "o_orderdate": _ts_us(rng, o, dt.datetime(1995, 1, 1, tzinfo=utc),
                              dt.datetime(2001, 8, 2, tzinfo=utc), True),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o),
    })
    li = n["lineitem"]
    write("lineitem", {
        "l_orderkey": rng.integers(0, o, li).astype(np.int64),
        "l_partkey": rng.integers(0, p, li).astype(np.int64),
        "l_suppkey": rng.integers(0, s, li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["O", "F"], li),
        "l_shipdate": _ts_us(rng, li, dt.datetime(1995, 1, 2, tzinfo=utc),
                             dt.datetime(2001, 11, 5, tzinfo=utc), True),
    })
    e = n["events"]
    write("events", {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": np.sort(_ts_us(rng, e, dt.datetime(2024, 1, 1, tzinfo=utc),
                             dt.datetime(2024, 1, 31, tzinfo=utc), False)),
        "user_id": rng.integers(0, c, e).astype(np.int64),
        "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    lens = rng.integers(8, 96, d)
    words = [list(rng.choice(_WORDS, k)) for k in lens]
    # plant near-duplicates (one word changed) and a few exact copies, so
    # the dedup and set-similarity queries have pairs to find
    for i in np.flatnonzero(rng.random(d) < 0.03):
        src = int(rng.integers(0, d))
        if src != i:
            words[i] = list(words[src])
            if rng.random() < 0.8:
                words[i][int(rng.integers(0, len(words[i])))] = str(rng.choice(_WORDS))
    texts = [" ".join(w) for w in words]
    write("documents", {
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "de", "fr", "es"], d, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": np.char.add("src", (np.arange(d) % 20).astype(str)),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    m = n["embeddings"]
    label = rng.integers(0, 10, m)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[label] + rng.normal(0, 0.5, (m, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": list(vecs.astype(np.float32)),
        "label": label.astype(np.int32),
    })
    return {"rows": n}


# --- GTFS-RT feed ticks --------------------------------------------------


def corrupt(payload: bytes) -> bytes:
    """A payload the decoder must reject: a dangling varint continuation
    byte truncates the last field key."""
    return payload + b"\x80"


def feed_ticks(out_dir: str, seed: int, n_ticks: int, vehicles: int,
               stale_share: float = 0.25, corrupt_share: float = 0.01) -> dict:
    """``n_ticks`` poll ticks, 30 s of event time apart, each written as
    ``tick-<k>.pb`` (one FeedMessage).  A vehicle repeats its previous
    report unchanged with probability ``stale_share``, so dedup has work.
    About ``corrupt_share`` of the payloads (at least one) are extra
    ``bad-<k>.pb`` files the decoder rejects.  The feed starts ten minutes
    before a local midnight, so a run lands in two day partitions.

    ``meta.json`` records the expected outcome: distinct valid
    ``(vehicle_id, timestamp)`` pairs per tick and the corrupt count."""
    from gtfs_realtime_etl_spark.sources.gtfs_rt import encode_feed

    rng = np.random.default_rng(seed)
    tz = zoneinfo.ZoneInfo(TZ)
    day = dt.date(2024, 3, 4) + dt.timedelta(days=int(rng.integers(0, 28)))
    t0 = int(dt.datetime(day.year, day.month, day.day, 23, 50, tzinfo=tz).timestamp())
    ids = [f"V{i}" for i in range(vehicles)]
    trips = [f"T{i}" for i in rng.integers(0, 5000, vehicles)]
    lat = 43.6 + rng.random(vehicles) * 0.2
    lon = -79.6 + rng.random(vehicles) * 0.4
    last_ts = np.full(vehicles, -1, dtype=np.int64)
    seen: set[tuple[int, int]] = set()
    new_pairs, bad_ticks = [], []
    n_bad = max(1, round(n_ticks * corrupt_share))
    bad_at = set(rng.choice(n_ticks, n_bad, replace=False).tolist())
    for k in range(n_ticks):
        stale = (rng.random(vehicles) < stale_share) & (last_ts >= 0)
        fresh_ts = t0 + 30 * k + rng.integers(0, 30, vehicles)
        ts = np.where(stale, last_ts, fresh_ts)
        lat = np.where(stale, lat, lat + rng.normal(0, 1e-4, vehicles))
        lon = np.where(stale, lon, lon + rng.normal(0, 1e-4, vehicles))
        last_ts = ts
        recs = [
            {"trip_id": trips[v], "route_id": f"R{v % 200}", "direction_id": v % 2,
             "vehicle_id": ids[v], "latitude": float(lat[v]), "longitude": float(lon[v]),
             "bearing": float(v % 360), "speed": 8.5, "timestamp": int(ts[v])}
            for v in range(vehicles)
        ]
        payload = encode_feed(recs)
        with open(os.path.join(out_dir, f"tick-{k:05d}.pb"), "wb") as f:
            f.write(payload)
        fresh = 0
        for v in range(vehicles):
            if (v, int(ts[v])) not in seen:
                seen.add((v, int(ts[v])))
                fresh += 1
        new_pairs.append(fresh)
        if k in bad_at:
            with open(os.path.join(out_dir, f"bad-{k:05d}.pb"), "wb") as f:
                f.write(corrupt(payload))
            bad_ticks.append(k)
    meta = {"n_ticks": n_ticks, "vehicles": vehicles, "new_pairs": new_pairs,
            "bad_ticks": bad_ticks}
    return meta


def write_meta(path: str, meta: dict) -> None:
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(meta, f)


def read_meta(path: str) -> dict:
    with open(os.path.join(path, "meta.json")) as f:
        return json.load(f)
