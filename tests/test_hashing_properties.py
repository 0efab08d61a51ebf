"""Property tests for the portable hash kernels.

The numpy kernels use vectorization tricks (sliding-window matrix
products, right-aligned zero padding, chunked modular dots) whose
equivalence to the plain polynomial fold is exactly what could silently
break — hypothesis hammers them against naive references; a curated
tricky corpus then checks the Spark forms (the Arrow shingle-set kernel
and the Column token hash) against the DuckDB SQL emitters on the full
engine path.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gtfs_realtime_etl_spark.functions.hashing import (
    BASE_A,
    BASE_B,
    H64_SHIFT,
    MOD,
    _char_codes,
    _pow_vec,
    _poly_hash_rows,
    _shingle_hashes_np,
    sql_shingle_hashes,
    sql_token_hash64,
)


def _naive_window_hash(text: str, k: int) -> list[int]:
    codes = [ord(c) for c in text]
    m = max(len(codes) - k + 1, 1)
    out = []
    for i in range(m):
        h = 0
        for j in range(k):
            c = codes[i + j] if i + j < len(codes) else 0
            h = (h * BASE_A + c) % MOD
        out.append(h)
    return out


def _naive_poly(token: str, base: int) -> int:
    h = 0
    for c in token:
        h = (h * base + ord(c)) % MOD
    return h


@settings(max_examples=300, deadline=None)
@given(st.text(min_size=0, max_size=200), st.integers(min_value=2, max_value=9))
def test_shingle_hashes_np_matches_naive_fold(text, k):
    got = _shingle_hashes_np(_char_codes(text), k, _pow_vec(BASE_A, k))
    assert list(got) == _naive_window_hash(text, k)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=1, max_codepoint=0x2FFF),
            min_size=1,
            max_size=600,  # exercises the 256-column chunked dot
        ),
        min_size=1,
        max_size=20,
    )
)
def test_poly_hash_rows_matches_naive_fold(tokens):
    codes = [_char_codes(t) for t in tokens]
    width = max(c.size for c in codes)
    mat = np.zeros((len(codes), width), dtype=np.int64)
    for r, c in enumerate(codes):
        mat[r, width - c.size :] = c
    for base in (BASE_A, BASE_B):
        got = _poly_hash_rows(mat, base)
        assert list(got) == [_naive_poly(t, base) for t in tokens]
    h64 = _poly_hash_rows(mat, BASE_A) * H64_SHIFT + _poly_hash_rows(mat, BASE_B)
    assert (h64 >= 0).all() and (h64 < (1 << 62)).all()


TRICKY = [
    "",
    " ",
    "\t\n  \t",
    "a",
    "ab",
    "exactly5",
    "The QUICK brown fox 123 !!",
    "repeated repeated repeated repeated",
    "x" * 300,
    "word " * 50,
    "tab\tseparated\ttokens here",
    # Unicode special-casing chars: Python lower('İ') expands to 2
    # codepoints while DuckDB's collapses to 1 — ASCII-only folding
    # (the fix) must keep the Spark forms and DuckDB identical here.
    "İSTANBUL Mixed ẞHARP çöğüş",
]


@pytest.mark.parametrize("k", [3, 5])
def test_shingle_kernel_and_token_hash_equal_duckdb(spark, k):
    """Full-path equivalence on the tricky corpus: the Arrow shingle-set
    kernel == ``list_sort(list_distinct(...))`` over the DuckDB SQL
    emitter (the pairing the decontamination oracle relies on), and the
    Column token hash (token_hash64_column) == DuckDB token hash, on
    every document."""
    from pyspark.sql import functions as F

    from gtfs_realtime_etl_spark.functions.hashing import (
        shingle_hash_set_kernel,
        token_hash64_column,
    )
    from gtfs_realtime_etl_spark.functions.text import tokens

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TRICKY)], "doc_id long, text string"
    )
    rows = (
        df.select(
            "doc_id",
            shingle_hash_set_kernel(k)(F.col("text")).alias("kern"),
            F.transform(tokens(F.col("text")), token_hash64_column).alias("tok64"),
        )
        .orderBy("doc_id")
        .collect()
    )

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d AS SELECT * FROM (VALUES "
        + ", ".join(
            "({}, '{}')".format(i, t.replace("'", "''"))
            for i, t in enumerate(TRICKY)
        )
        + ") t(doc_id, text)"
    )
    duck = {
        i: (sh, tk)
        for i, sh, tk in con.sql(
            f"""SELECT doc_id, list_sort(list_distinct({sql_shingle_hashes('text', k)})),
            list_transform(list_filter(string_split_regex(
                translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                          'abcdefghijklmnopqrstuvwxyz'), '\\s+'),
                x -> x <> ''), t -> {sql_token_hash64('t')})
            FROM d ORDER BY doc_id"""
        ).fetchall()
    }
    assert set(duck) == {r["doc_id"] for r in rows}
    for r in rows:
        assert r["kern"] == duck[r["doc_id"]][0], TRICKY[r["doc_id"]]
        assert r["tok64"] == duck[r["doc_id"]][1], TRICKY[r["doc_id"]]


@settings(max_examples=200, deadline=None)
@given(
    st.text(min_size=0, max_size=300),
    st.integers(min_value=2, max_value=7),
    st.integers(min_value=2, max_value=6),
)
def test_winnow_kernel_numpy_matches_naive(text, k, w):
    """The numpy winnow pipeline (shingles → stride-view window minima
    → distinct), exactly as winnow_fingerprints_kernel computes it,
    must match a from-scratch python reference for any text/k/w."""
    import numpy as np
    from numpy.lib.stride_tricks import sliding_window_view

    from gtfs_realtime_etl_spark.functions.hashing import (
        BASE_A,
        MOD,
        _ascii_lower,
        _char_codes,
        _pow_vec,
        _shingle_hashes_np,
    )

    # naive reference
    t = _ascii_lower(text)
    codes = [ord(c) for c in t] + [0] * k
    m = max(len(t) - k + 1, 1)
    naive_h = []
    for i in range(m):
        acc = 0
        for j in range(k):
            acc = (acc * BASE_A + codes[i + j]) % MOD
        naive_h.append(acc)
    n_windows = max(len(naive_h) - w + 1, 1)
    naive_fps = sorted({min(naive_h[i : i + w]) for i in range(n_windows)})

    h = _shingle_hashes_np(_char_codes(_ascii_lower(text)), k, _pow_vec(BASE_A, k))
    assert list(h) == naive_h
    if h.size < w:
        mins = np.array([h.min()], dtype=np.int64)
    else:
        mins = sliding_window_view(h, w).min(axis=1)
    assert sorted(np.unique(mins).tolist()) == naive_fps
