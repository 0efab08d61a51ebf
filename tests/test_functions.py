"""Unit tests for the column-function library against independent
oracles (known geohash vectors, stdlib erf, struct-packed WKB)."""

from __future__ import annotations

import math
import random
import struct

import pytest
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.functions.geo import geohash_encode, point_wkb
from gtfs_realtime_etl_spark.functions.stats import norm_cdf, norm_cdf_sql
from gtfs_realtime_etl_spark.functions.text import lang_id_kernel, token_count
from gtfs_realtime_etl_spark.functions.time import (
    NOT_PAST_MIDNIGHT,
    gtfs_time_to_secs,
    seconds_of_day,
)

# Known geohash vectors (classic public test points).
GEOHASH_CASES = [
    (57.64911, 10.40744, "u4pruyd"),
    (43.6532, -79.3832, "dpz83df"),
    (-33.8688, 151.2093, "r3gx2f7"),
    (0.0, 0.0, "s000000"),
    (90.0, 180.0, "zzzzzzz"),  # edge clamp
    (-90.0, -180.0, "0000000"),
]


def test_geohash_known_values(spark):
    df = spark.createDataFrame(
        [(lat, lon) for lat, lon, _ in GEOHASH_CASES], "lat double, lon double"
    )
    got = [
        r.gh
        for r in df.select(
            geohash_encode(F.col("lat"), F.col("lon")).alias("gh")
        ).collect()
    ]
    assert got == [gh for _, _, gh in GEOHASH_CASES]


def test_norm_cdf_vs_erf(spark):
    xs = [-4.0, -2.0, -1.0, -0.5, 0.0, 0.3, 1.0, 1.96, 3.5]
    df = spark.range(1).select(
        *[norm_cdf(F.lit(x)).alias(f"c{i}") for i, x in enumerate(xs)]
    )
    row = df.collect()[0]
    for i, x in enumerate(xs):
        exact = 0.5 * (1 + math.erf(x / math.sqrt(2)))
        assert row[i] == pytest.approx(exact, abs=2e-7)


def test_norm_cdf_sql_matches_spark(spark):
    """The SQL rendering is algebraically identical to the Column
    version; results agree to ULP level (JVM Math.exp and C libm may
    differ in the last bit, which the queries' 6-dp rounding absorbs)."""
    import duckdb

    xs = [-2.0, -0.5, 0.0, 0.77, 2.5]
    srow = spark.range(1).select(
        *[norm_cdf(F.lit(x)).alias(f"c{i}") for i, x in enumerate(xs)]
    ).collect()[0]
    con = duckdb.connect()
    for i, x in enumerate(xs):
        (dv,) = con.execute(f"SELECT {norm_cdf_sql(repr(x))}").fetchone()
        assert srow[i] == pytest.approx(dv, abs=1e-14)


def _wkb_edge_doubles() -> list[float]:
    """±0, ±inf, the extreme and subnormal magnitudes, every power of
    two a double can hold, and random bit patterns (NaNs excluded)."""
    specials = [0.0, -0.0, math.inf, -math.inf, 5e-324, -5e-324,
                2.2250738585072009e-308, 2.2250738585072014e-308,
                1.7976931348623157e308, -1.7976931348623157e308, -79.38, 43.65]
    powers = [math.ldexp(1.0, e) for e in range(-1074, 1024)]
    rng = random.Random(7)
    bits = (struct.unpack("<d", rng.getrandbits(64).to_bytes(8, "little"))[0]
            for _ in range(4000))
    return specials + powers + [-p for p in powers] + [b for b in bits if b == b]


def test_point_wkb_bytes(spark):
    """Byte-exact against a struct-packed little-endian WKB point, and
    NULL when either coordinate is NaN or NULL."""
    xs = _wkb_edge_doubles()
    ys = xs[1:] + xs[:1]
    nan = float("nan")
    null_rows = [(nan, 1.0), (1.0, nan), (None, 1.0), (1.0, None), (nan, nan)]
    rows = [(i, x, y) for i, (x, y) in enumerate([*zip(xs, ys), *null_rows])]
    df = spark.createDataFrame(rows, "i long, lon double, lat double")
    got = {
        r.i: r.w
        for r in df.select("i", point_wkb(F.col("lon"), F.col("lat")).alias("w")).collect()
    }
    for i, x, y in rows[: len(xs)]:
        assert bytes(got[i]) == struct.pack("<BIdd", 1, 1, x, y), (x, y)
    assert [got[i] for i, _, _ in rows[len(xs):]] == [None] * len(null_rows)


def test_gtfs_time_handling(spark):
    df = spark.createDataFrame(
        [("06:30:15",), ("25:10:00",), ("00:00:00",)], "t string"
    )
    rows = df.select(
        gtfs_time_to_secs(F.col("t")).alias("s"),
        NOT_PAST_MIDNIGHT(F.col("t")).alias("keep"),
    ).collect()
    assert [r.s for r in rows] == [6 * 3600 + 30 * 60 + 15, 25 * 3600 + 600, 0]
    assert [r.keep for r in rows] == [True, False, True]


def test_seconds_of_day_session_tz(spark):
    # 2024-03-05 14:30:00 America/Toronto == 19:30:00 UTC
    df = spark.createDataFrame([(1709667000,)], "epoch long").select(
        F.to_timestamp(F.from_unixtime("epoch")).alias("ts")
    )
    (row,) = df.select(seconds_of_day(F.col("ts")).alias("s")).collect()
    assert row.s == 14 * 3600 + 30 * 60


def test_lang_id_real_sentences(spark):
    cases = [
        ("the cat sat on the mat and it is happy", "en"),
        ("le chat est sur la table et il est content", "fr"),
        ("der hund ist nicht mit der katze", "de"),
        ("el perro y el gato en la casa", "es"),
        ("zzz qqq xxx", "und"),
    ]
    df = spark.createDataFrame(cases, "text string, expected string")
    rows = df.select(
        lang_id_kernel()(F.col("text")).alias("got"), "expected"
    ).collect()
    for r in rows:
        assert r.got == r.expected


def test_token_count(spark):
    df = spark.createDataFrame([("  a b   c  ",), ("", ), ("one",)], "t string")
    got = [r.n for r in df.select(token_count(F.col("t")).alias("n")).collect()]
    assert got == [3, 0, 1]


def test_lang_id_kernel_matches_column(spark):
    """The Arrow lang-ID kernel (the ``lang_id`` entry's hot path)
    agrees with the oracle's per-document DuckDB CASE on adversarial
    inputs: ties, zero hits, mixed case, tabs/newlines, a vertical tab,
    empties, non-ASCII.  NULL text maps to 'und' in the kernel and to
    NULL in the oracle; the corpus has no NULL text."""
    import duckdb

    from gtfs_realtime_etl_spark.plans.base import (
        _ARGMAX_CASES,
        _GREATEST,
        _LANGS,
        _lang_hits_sql,
    )

    texts = [
        "THE cat AND the dog IS it",
        "le chat est sur la table",
        "el perro y el gato",          # es words
        "de la en es",                 # es beats fr by one hit
        "de la",                       # es/fr tie → earliest sorted lang
        "und the",                     # de/en tie → earliest sorted lang
        "zzz qqq",                     # und
        "  \t the \n and\tof  ",      # odd whitespace
        "",
        None,
        "das ist nicht von zu der die und ein mit",
        "café déjà vu the the",       # non-ASCII chars present
        "a\x0bthe",                   # \x0B is not RE2 whitespace: one token
    ]
    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.lang
        for r in df.select(
            "doc_id", lang_id_kernel()(F.col("text")).alias("lang")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    hits = ", ".join(f"{_lang_hits_sql(lang)} AS h_{lang}" for lang in _LANGS)
    want = dict(
        con.execute(
            f"SELECT doc_id, CASE WHEN {_GREATEST} = 0 THEN 'und' "
            f"{_ARGMAX_CASES} END FROM (SELECT doc_id, {hits} FROM documents)"
        ).fetchall()
    )
    null_id = texts.index(None)
    assert got.pop(null_id) == "und"
    assert want.pop(null_id) is None
    assert got == want
    assert got[texts.index("de la")] == "es"
    assert got[texts.index("und the")] == "de"
    assert got[texts.index("a\x0bthe")] == "und"


def test_doc_fingerprint_kernel_matches_oracle(spark):
    """The Arrow fingerprint kernel is bit-identical to the registry's
    DuckDB oracle (the same base/modulus Horner fold): verbatim on
    edge-shaped inputs, and end to end as the ``doc_fingerprint`` query
    (the sampled oracle lane does not reach it).  NULL text maps to
    NULL in Spark and to 0 in the oracle; the corpus has no NULL
    text."""
    import duckdb

    from gtfs_realtime_etl_spark.functions.hashing import doc_fingerprint_kernel
    from gtfs_realtime_etl_spark.plans.base import Q_DOC_FINGERPRINT_SQL
    from gtfs_realtime_etl_spark.testing import compare_to_oracle
    from tests.conftest import SF_CORRECTNESS

    texts = ["", "A", "abc", "The QUICK brown FOX! 123", "é" * 5, "x" * 3000, "it's"]
    df = spark.createDataFrame(list(enumerate(texts)) + [(len(texts), None)],
                               "doc_id long, text string")
    got = {
        r.doc_id: r.fp
        for r in df.select(
            "doc_id", doc_fingerprint_kernel()(F.col("text")).alias("fp")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", list(enumerate(texts)))
    want = dict(con.execute(Q_DOC_FINGERPRINT_SQL).fetchall())
    assert got.pop(len(texts)) is None
    assert got == want

    res = compare_to_oracle(spark, "doc_fingerprint", SF_CORRECTNESS)
    assert res.spark_rows > 0
    assert res.ok, (res.notes, res.max_abs_delta)


def test_pii_patterns_on_crafted_strings(spark):
    """Redaction + counting on strings with real PII shapes (emails,
    IPv4s, phones), near-misses, and adjacency — and Spark must agree
    with the DuckDB twins token for token."""
    import duckdb

    from gtfs_realtime_etl_spark.functions.text import (
        pii_count,
        redact_pii,
        sql_pii_count,
        sql_redact_pii,
    )

    cases = [
        "mail a.b-c_d%x+1@sub.domain.org now",
        "two bob@x.io and eve@y.co.uk here",
        "ip 192.168.0.1 and 10.0.255.7, not 1.2.3 or 300.300",  # 300.300 not ipv4
        "call 555-867-5309 or 555 123 4567 or 555.000.1111",
        "no pii at all",
        "a@b.c",  # single-letter TLD: NOT an email per the pattern
        "edge9@x.ab.cd 7.7.7.7",
    ]
    df = spark.createDataFrame([(t,) for t in cases], "t string")
    t = F.col("t")
    rows = df.select(
        "t",
        pii_count(t, "email").alias("e"),
        pii_count(t, "ipv4").alias("i"),
        pii_count(t, "phone").alias("p"),
        redact_pii(t).alias("red"),
    ).collect()
    by_text = {r.t: r for r in rows}
    assert by_text[cases[0]].e == 1
    assert by_text[cases[1]].e == 2
    assert by_text[cases[2]].i == 2
    assert by_text[cases[3]].p == 3
    assert by_text[cases[4]].red == cases[4]
    assert by_text[cases[5]].e == 0
    assert "[PII]" in by_text[cases[6]].red and "@" not in by_text[cases[6]].red

    con = duckdb.connect()
    for r in rows:
        lit = "'" + r.t.replace("'", "''") + "'"
        e, i, p, red = con.execute(
            f"SELECT {sql_pii_count(lit, 'email')}, {sql_pii_count(lit, 'ipv4')}, "
            f"{sql_pii_count(lit, 'phone')}, {sql_redact_pii(lit)}"
        ).fetchone()
        assert (r.e, r.i, r.p, r.red) == (e, i, p, red), r.t


def test_bigrams_edges(spark):
    from gtfs_realtime_etl_spark.functions.text import bigrams, tokens

    df = spark.createDataFrame(
        [("a b c",), ("one",), ("",), ("  X  y Z ",)], "t string"
    )
    got = [
        r.g
        for r in df.select(bigrams(tokens(F.col("t"))).alias("g")).collect()
    ]
    assert got[0] == ["a b", "b c"]
    assert got[1] == [] and got[2] == []
    assert got[3] == ["x y", "y z"]


def _duckdb_portable_log2(vals: list[int]) -> dict[int, float]:
    """``portable_int_log2_sql`` evaluated by DuckDB over ``vals``."""
    import duckdb

    from gtfs_realtime_etl_spark.functions.stats import portable_int_log2_sql

    con = duckdb.connect()
    con.execute("CREATE TABLE g(n BIGINT)")
    con.executemany("INSERT INTO g VALUES (?)", [(v,) for v in vals])
    frag = portable_int_log2_sql("n", "p")
    return dict(con.execute(f"SELECT n, p_lg FROM (SELECT n, {frag} FROM g)").fetchall())


def test_portable_int_log2_accuracy_and_cross_engine_bits(spark):
    """The staged portable log2 is (a) within 1e-12 of math.log2 and
    (b) BIT-identical between Spark and DuckDB — the property
    engine-native log2 lacks (last-ulp divergence flips fixed-dp
    rounding)."""
    from gtfs_realtime_etl_spark.functions.stats import portable_int_log2_staged

    vals = [1, 2, 3, 7, 29, 1023, 1024, 1025, 999_983, 2**40 - 1, 2**40,
            12_345_678_901]
    df = spark.createDataFrame([(v,) for v in vals], "n long")
    got = {r.n: r.lg for r in portable_int_log2_staged(df, {"lg": "n"}).collect()}
    oracle = _duckdb_portable_log2(vals)
    for n in vals:
        assert got[n] == oracle[n], (n, got[n], oracle[n])  # bit-identical
        assert abs(got[n] - math.log2(n)) < 1e-12, (n, got[n])


def test_portable_int_log2_staged_bit_identical(spark):
    """The staged form (named intermediates, SQL-parsed) must produce
    the bit-identical double of the DuckDB emitter for every input on a
    213-value grid: small values, powers of two and their neighbours,
    the BIGINT maximum, and 200 random 50-bit odd values."""
    import random

    from gtfs_realtime_etl_spark.functions.stats import portable_int_log2_staged

    rnd = random.Random(411)
    vals = [1, 2, 3, 5, 7, 8, 1023, 1024, 1025, 10**6, 10**12,
            2**62, (2**63) - 1]
    vals += [rnd.getrandbits(50) | 1 for _ in range(200)]
    vals = sorted(set(vals))
    df = spark.createDataFrame([(v,) for v in vals], "n long")
    got = {r.n: r.lg for r in portable_int_log2_staged(df, {"lg": "n"}).collect()}
    oracle = _duckdb_portable_log2(vals)
    assert len(got) == len(oracle) == len(vals)
    for n in vals:
        assert struct.pack("<d", got[n]) == struct.pack("<d", oracle[n]), (
            n, got[n], oracle[n])


def test_lit_double_array_bit_identical(spark):
    """SQL-parsed literal arrays (round-12 plan-construction fix) must
    carry exactly the bits of the F.lit form — D-suffixed repr goes
    through Double.parseDouble, which is correctly rounded on the
    shortest round-tripping string."""
    import math
    import random
    import struct

    import pytest

    from gtfs_realtime_etl_spark.functions.exprs import (
        lit_double_array,
        lit_double_matrix,
    )

    rnd = random.Random(412)
    vals = [0.0, -0.0, 1.0, -1.0, 0.1, -0.1, 1 / 3, 2**-30, 1e-300,
            1e300, 123456789.123456789, 5e-324]
    vals += [rnd.uniform(-1e6, 1e6) for _ in range(100)]
    vals += [rnd.random() * 10**rnd.randint(-200, 200) for _ in range(100)]
    df = spark.range(1)
    a = df.select(
        F.array(*[F.lit(float(x)) for x in vals]).alias("v")
    ).collect()[0].v
    b = df.select(lit_double_array(vals).alias("v")).collect()[0].v
    pack = lambda xs: [struct.pack(">d", x) for x in xs]  # noqa: E731
    assert pack(a) == pack(b)
    m = df.select(
        lit_double_matrix([vals[:5], vals[5:10]]).alias("m")
    ).collect()[0].m
    assert pack(m[0]) == pack(vals[:5]) and pack(m[1]) == pack(vals[5:10])
    assert df.select(lit_double_array([]).alias("e")).collect()[0].e == []
    with pytest.raises(ValueError):
        lit_double_array([math.nan])
