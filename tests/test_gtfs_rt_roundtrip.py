"""Property tests for the dependency-free GTFS-RT wire codec:
encode_feed ∘ parse_feed must be the identity on the 9-field record
space, including missing fields, unicode ids, and float edge values
(the wire format carries float32 — values are checked at that
precision)."""

from __future__ import annotations

import math
import struct

from hypothesis import given, settings
from hypothesis import strategies as st

from gtfs_realtime_etl_spark.sources.gtfs_rt import (
    encode_feed,
    parse_feed,
    try_parse_feed,
)

_ids = st.one_of(
    st.none(),
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FA0),
        min_size=0,
        max_size=40,
    ),
)
_f32 = st.one_of(
    st.none(),
    st.floats(
        min_value=-1e6,
        max_value=1e6,
        allow_nan=False,
        width=32,
    ),
)
_record = st.fixed_dictionaries(
    {
        "trip_id": _ids,
        "route_id": _ids,
        "direction_id": st.one_of(st.none(), st.sampled_from(["0", "1", "7"])),
        "vehicle_id": _ids,
        "latitude": _f32,
        "longitude": _f32,
        "bearing": _f32,
        "speed": _f32,
        "timestamp": st.one_of(
            st.none(), st.integers(min_value=0, max_value=2**40)
        ),
    }
)


def _as_f32(x):
    return None if x is None else struct.unpack("<f", struct.pack("<f", x))[0]


@settings(max_examples=200, deadline=None)
@given(st.lists(_record, min_size=0, max_size=10))
def test_encode_parse_roundtrip(records):
    decoded = parse_feed(encode_feed(records))
    # the encoder always writes the vehicle sub-message; an empty one
    # decodes to an all-None row (protobuf HasField semantics: message
    # present, fields absent) — so cardinality is always preserved
    assert len(decoded) == len(records)
    for got, exp in zip(decoded, records):
        for k in ("trip_id", "route_id", "direction_id", "vehicle_id", "timestamp"):
            assert got[k] == exp[k], k
        for k in ("latitude", "longitude", "bearing", "speed"):
            g, e = got[k], _as_f32(exp[k])
            assert (g is None) == (e is None), k
            if g is not None:
                assert g == e or math.isclose(g, e, rel_tol=1e-6), k


@settings(max_examples=300, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_arbitrary_bytes_never_crash_try_parse(blob):
    """Fuzz the quarantine path: try_parse_feed must never raise, only
    classify — a poisonous payload crashing the stream is the exact
    regression the DLQ channel exists to prevent."""
    recs, err = try_parse_feed(blob)
    assert (recs is None) != (err is None)
