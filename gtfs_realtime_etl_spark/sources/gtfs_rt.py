"""GTFS-Realtime feed decoding: protobuf bytes → position rows.

The reference parses feeds with the generated ``gtfs_realtime_pb2``
bindings (reference ``etl/runtime/handler.py:54-78``).  The engine has
one decoder, and it runs on every platform: a minimal, dependency-free
codec for the (public, stable) GTFS-Realtime wire format — just the
fields the reference extracts, so no protobuf library, compiled
descriptor or spark-protobuf connector jar is needed — run through
Arrow-batched ``mapInPandas``: one feed payload in, N flattened vehicle
rows out.

Wire-format facts used (all from the public protobuf encoding spec and
the public gtfs-realtime.proto):

    FeedMessage:      header=1, entity=2 (repeated message)
    FeedEntity:       id=1, is_deleted=2, trip_update=3, vehicle=4, alert=5
    VehiclePosition:  trip=1, position=2, current_stop_sequence=3,
                      current_status=4, timestamp=5, congestion_level=6,
                      stop_id=7, vehicle=8, occupancy_status=9
    TripDescriptor:   trip_id=1, start_time=2, start_date=3,
                      schedule_relationship=4, route_id=5, direction_id=6
    VehicleDescriptor: id=1, label=2, license_plate=3
    Position:         latitude=1 (float), longitude=2 (float),
                      bearing=3 (float), odometer=4 (double), speed=5 (float)

Missing sub-messages/fields decode to None — matching the reference's
``HasField`` guards (handler.py:63-77).  Note: the reference stores
``v.trip.route_id`` into ``direction_id`` (bug at handler.py:65); we
decode the real ``direction_id`` field.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import BinaryType, StringType, StructField, StructType

from gtfs_realtime_etl_spark.schemas import VEHICLE_POSITIONS_RAW

#: Quarantined (undecodable) payloads: the bytes plus the parse failure.
#: The DLQ analog of the reference's SQS dead-letter queue
#: (etl/infrastructure/construct.py:186).
QUARANTINE_SCHEMA = StructType(
    [
        StructField("payload", BinaryType()),
        StructField("reason", StringType()),
    ]
)

_F32 = struct.Struct("<f")
_F64 = struct.Struct("<d")


def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    shift = 0
    val = 0
    while True:
        b = buf[i]
        i += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, i
        shift += 7


def _fields(buf: bytes) -> Iterator[tuple[int, int, bytes | int]]:
    """Iterate (field_number, wire_type, value) over a message buffer."""
    i, n = 0, len(buf)
    while i < n:
        key, i = _read_varint(buf, i)
        field, wt = key >> 3, key & 7
        if wt == 0:  # varint
            val, i = _read_varint(buf, i)
        elif wt == 1:  # 64-bit
            val = buf[i : i + 8]
            i += 8
        elif wt == 2:  # length-delimited
            ln, i = _read_varint(buf, i)
            val = buf[i : i + ln]
            i += ln
        elif wt == 5:  # 32-bit
            val = buf[i : i + 4]
            i += 4
        else:  # groups (3/4): not used by gtfs-realtime
            raise ValueError(f"unsupported wire type {wt}")
        yield field, wt, val


def _parse_position(buf: bytes) -> dict:
    out: dict = {}
    for field, wt, val in _fields(buf):
        if wt == 5:
            f = _F32.unpack(val)[0]
            if field == 1:
                out["latitude"] = f
            elif field == 2:
                out["longitude"] = f
            elif field == 3:
                out["bearing"] = f
            elif field == 5:
                out["speed"] = f
        elif wt == 1 and field == 4:
            out["odometer"] = _F64.unpack(val)[0]
    return out


def _parse_trip(buf: bytes) -> dict:
    out: dict = {}
    for field, wt, val in _fields(buf):
        if field == 1 and wt == 2:
            out["trip_id"] = val.decode("utf-8")
        elif field == 5 and wt == 2:
            out["route_id"] = val.decode("utf-8")
        elif field == 6 and wt == 0:
            out["direction_id"] = str(val)
    return out


def _parse_vehicle_desc(buf: bytes) -> dict:
    out: dict = {}
    for field, wt, val in _fields(buf):
        if field == 1 and wt == 2:
            out["vehicle_id"] = val.decode("utf-8")
    return out


def parse_feed(payload: bytes) -> list[dict]:
    """FeedMessage bytes → list of flattened vehicle-position records
    (the reference's 9-column record, handler.py:57-78)."""
    rows: list[dict] = []
    for field, wt, entity in _fields(payload):
        if field != 2 or wt != 2:
            continue
        vehicle = None
        for ef, ewt, ev in _fields(entity):
            if ef == 4 and ewt == 2:
                vehicle = ev
        if vehicle is None:
            continue
        rec: dict = {
            "trip_id": None,
            "route_id": None,
            "direction_id": None,
            "vehicle_id": None,
            "latitude": None,
            "longitude": None,
            "bearing": None,
            "speed": None,
            "timestamp": None,
        }
        for vf, vwt, vv in _fields(vehicle):
            if vf == 1 and vwt == 2:
                t = _parse_trip(vv)
                rec["trip_id"] = t.get("trip_id")
                rec["route_id"] = t.get("route_id")
                rec["direction_id"] = t.get("direction_id")
            elif vf == 2 and vwt == 2:
                p = _parse_position(vv)
                rec["latitude"] = p.get("latitude")
                rec["longitude"] = p.get("longitude")
                rec["bearing"] = p.get("bearing")
                rec["speed"] = p.get("speed")
            elif vf == 8 and vwt == 2:
                rec["vehicle_id"] = _parse_vehicle_desc(vv).get("vehicle_id")
            elif vf == 5 and vwt == 0:
                rec["timestamp"] = vv
        rows.append(rec)
    return rows


def try_parse_feed(payload: bytes) -> tuple[list[dict] | None, str | None]:
    """(records, None) on success; (None, reason) on any parse failure
    (truncated varint/field → IndexError, bad wire type → ValueError,
    short float buffer → struct.error, bad UTF-8 → UnicodeDecodeError)."""
    try:
        return parse_feed(payload), None
    except Exception as exc:  # noqa: BLE001 - every parse failure quarantines
        return None, f"{type(exc).__name__}: {exc}"


def decode_feed_frames(frames: DataFrame) -> DataFrame:
    """DataFrame of feed payloads (binary ``payload``) → flattened
    position rows.

    Arrow-batched mapInPandas: each feed blob fans out to its vehicle
    rows; partitioning of the payload frames is preserved (narrow op).

    Undecodable payloads are dropped so one poisonous blob cannot fail
    the task (and with it the whole streaming query); pair with
    :func:`quarantine_feed_frames` to capture them.
    """
    cols = [f.name for f in VEHICLE_POSITIONS_RAW.fields]

    def decode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: list[dict] = []
            for payload in pdf["payload"]:
                if payload is None:
                    continue
                recs, err = try_parse_feed(bytes(payload))
                if err is None:
                    rows.extend(recs)
            out = pd.DataFrame(rows, columns=cols)
            for c in ("latitude", "longitude", "bearing", "speed"):
                out[c] = out[c].astype("float64")
            out["timestamp"] = out["timestamp"].astype("Int64")
            yield out

    return frames.mapInPandas(decode, schema=VEHICLE_POSITIONS_RAW)


def quarantine_feed_frames(frames: DataFrame) -> DataFrame:
    """The bad-record side channel: payloads :func:`parse_feed` rejects,
    with the failure reason (DLQ analog, construct.py:186).  Works batch
    or streaming; narrow, column-pruned to the payload column."""

    def sift(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            bad: list[tuple[bytes, str]] = []
            for payload in pdf["payload"]:
                if payload is None:
                    bad.append((None, "null payload"))
                    continue
                _, err = try_parse_feed(bytes(payload))
                if err is not None:
                    bad.append((bytes(payload), err))
            yield pd.DataFrame(bad, columns=["payload", "reason"])

    return frames.select("payload").mapInPandas(sift, schema=QUARANTINE_SCHEMA)


# --- test/bench-side encoder (synthetic feeds; public wire format) ---------


def _varint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _tag(field: int, wt: int) -> bytes:
    return _varint((field << 3) | wt)


def _len_field(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _varint(len(payload)) + payload


def encode_feed(records: list[dict]) -> bytes:
    """Inverse of :func:`parse_feed` for synthetic test feeds."""
    out = bytearray()
    header = _len_field(1, b"\x0a\x031.0")  # gtfs_realtime_version "1.0"
    out += header
    for i, r in enumerate(records):
        trip = bytearray()
        if r.get("trip_id") is not None:
            trip += _len_field(1, r["trip_id"].encode())
        if r.get("route_id") is not None:
            trip += _len_field(5, r["route_id"].encode())
        if r.get("direction_id") is not None:
            trip += _tag(6, 0) + _varint(int(r["direction_id"]))

        pos = bytearray()
        for field, key in ((1, "latitude"), (2, "longitude"), (3, "bearing"), (5, "speed")):
            if r.get(key) is not None:
                pos += _tag(field, 5) + _F32.pack(r[key])

        veh = bytearray()
        if trip:
            veh += _len_field(1, bytes(trip))
        if pos:
            veh += _len_field(2, bytes(pos))
        if r.get("timestamp") is not None:
            veh += _tag(5, 0) + _varint(int(r["timestamp"]))
        if r.get("vehicle_id") is not None:
            veh += _len_field(8, _len_field(1, r["vehicle_id"].encode()))

        entity = _len_field(1, str(i).encode()) + _len_field(4, bytes(veh))
        out += _len_field(2, entity)
    return bytes(out)
