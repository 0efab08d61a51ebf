"""The testdata loader must canonicalize events.ts to epoch-nanos
bigint for EVERY physical type the driver's generator has shipped
(TIMESTAMP(NANOS) in rounds 1-2, TIMESTAMP(MICROS) from round 3) —
round 3 lost six queries to exactly this drift."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from gtfs_realtime_etl_spark.sources.testdata import load_testdata


@pytest.fixture(scope="module")
def twin_dirs(tmp_path_factory):
    """Two sf dirs with the SAME events, one stored us, one ns."""
    base = tmp_path_factory.mktemp("tsdrift")
    micros = [0, 1_704_067_798_778_549, 2**33 * 1_000_000 + 123_456]
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(micros)), pa.int64()),
            "ts": pa.array(micros, pa.timestamp("us")),
            "user_id": pa.array([1] * len(micros), pa.int64()),
            "event_type": pa.array(["view"] * len(micros)),
            "value": pa.array([1.0] * len(micros)),
            "props": pa.array(["{}"] * len(micros)),
        }
    )
    d_us, d_ns = str(base / "us"), str(base / "ns")
    os.makedirs(d_us), os.makedirs(d_ns)
    pq.write_table(tbl, f"{d_us}/events.parquet")
    ns_tbl = tbl.set_column(
        1, "ts", tbl.column("ts").cast(pa.timestamp("ns"))
    )
    pq.write_table(
        ns_tbl, f"{d_ns}/events.parquet", coerce_timestamps=None, version="2.6"
    )
    return d_us, d_ns, micros


def test_both_physical_types_normalize_to_same_nanos(spark, twin_dirs):
    d_us, d_ns, micros = twin_dirs
    out = {}
    for label, d in (("us", d_us), ("ns", d_ns)):
        df = load_testdata(spark, d, "events")[0]
        assert dict(df.dtypes)["ts"] == "bigint", label
        out[label] = {r.event_id: r.ts for r in df.select("event_id", "ts").collect()}
    assert out["us"] == out["ns"]
    for i, us in enumerate(micros):
        assert out["us"][i] == us * 1000  # exact epoch nanos


def test_normalization_matches_duckdb_epoch_ns(spark, twin_dirs):
    import duckdb

    d_us, _, _ = twin_dirs
    df = load_testdata(spark, d_us, "events")[0]
    got = {r.event_id: r.ts for r in df.select("event_id", "ts").collect()}
    con = duckdb.connect()
    exp = dict(
        con.execute(
            f"SELECT event_id, epoch_ns(ts) FROM '{d_us}/events.parquet'"
        ).fetchall()
    )
    assert got == exp


def test_ltz_annotated_parquet_normalizes_tz_independently(spark, twin_dirs):
    """isAdjustedToUTC=true (pyarrow tz-aware timestamp) reads as
    TIMESTAMP_LTZ in Spark; the normalizer must go through unix_micros
    — an epoch read, immune to the session timezone — not an NTZ cast
    (which would shift by the pinned agency tz and diverge from
    DuckDB's epoch_ns on the same file)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    _, _, micros = twin_dirs
    base = os.path.dirname(os.path.dirname(twin_dirs[0]))
    d_ltz = os.path.join(base, "ltz")
    os.makedirs(d_ltz, exist_ok=True)
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(micros)), pa.int64()),
            "ts": pa.array(micros, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array([1] * len(micros), pa.int64()),
            "event_type": pa.array(["view"] * len(micros)),
            "value": pa.array([1.0] * len(micros)),
            "props": pa.array(["{}"] * len(micros)),
        }
    )
    pq.write_table(tbl, f"{d_ltz}/events.parquet")

    df = load_testdata(spark, d_ltz, "events")[0]
    assert dict(df.dtypes)["ts"] == "bigint"
    got = {r.event_id: r.ts for r in df.select("event_id", "ts").collect()}
    for i, us in enumerate(micros):
        assert got[i] == us * 1000  # exact epoch nanos, tz-independent
