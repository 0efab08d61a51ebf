"""Winnowing fingerprints: parity with a naive reference implementation
and the MOSS guarantee (long shared substrings => shared fingerprint).

Registry note: the synthetic benchmark corpus draws from a ~30-word
vocabulary, so its character-shingle space is tiny and EVERY doc pair
shares winnowed fingerprints — the operator is real, the corpus is
degenerate for it, hence operator-level tests instead of a registry
query (same call as the multimodal codecs)."""

from __future__ import annotations

from gtfs_realtime_etl_spark.functions.hashing import (
    BASE_A,
    MOD,
    winnow_fingerprints_kernel,
    winnow_profile_kernel,
)
from gtfs_realtime_etl_spark.operators import dedup
from gtfs_realtime_etl_spark.operators.dedup import winnow_candidates

K, W = 5, 4


def _naive_shingle_hashes(text: str, k: int = K):
    t = text.lower()
    if len(t) < k:
        t = t + "\x00" * (k - len(t))  # matches the kernel's zero pad
    out = []
    for i in range(len(t) - k + 1):
        acc = 0
        for ch in t[i : i + k]:
            acc = (acc * BASE_A + ord(ch)) % MOD
        out.append(acc)
    return out


def _naive_winnow(text: str, k: int = K, w: int = W):
    hs = _naive_shingle_hashes(text, k)
    n_windows = max(len(hs) - w + 1, 1)
    fps = []
    for i in range(n_windows):
        fps.append(min(hs[i : i + w]))
    # array_distinct keeps first occurrence; compare as sets (the
    # operator explodes to rows anyway)
    return set(fps)


def test_winnow_matches_naive(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "sphinx of black quartz judge my vow",
        "ab",  # shorter than one shingle
    ]
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {
        r["doc_id"]: set(r["fps"])
        for r in df.select(
            "doc_id", winnow_fingerprints_kernel(K, W)("text").alias("fps")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _naive_winnow(t), (i, t)


def test_winnow_shared_substring_guarantee(spark):
    """Two docs sharing a substring of length >= k + w - 1 share at
    least one fingerprint — the winnowing coverage guarantee."""
    shared = "unmistakable common passage here"
    a = "alpha beta " + shared + " gamma delta"
    b = "omega " + shared + " psi chi phi"
    c = "entirely different content zqxwv"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], ["doc_id", "text"]
    )
    cands = winnow_candidates(df, min_shared=1).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in cands}
    assert (1, 2) in pairs
    shared_counts = {(r["id_a"], r["id_b"]): r["n_shared"] for r in cands}
    assert shared_counts[(1, 2)] >= 3  # a long passage -> many shared fps


def test_winnow_bucket_cap_drops_boilerplate(spark, monkeypatch):
    """A fingerprint present in more docs than MAX_BUCKET is treated as
    boilerplate and produces no pairs."""
    docs = [(i, "identical boilerplate text everywhere") for i in range(10)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    assert winnow_candidates(df, min_shared=1).count() == 45
    monkeypatch.setattr(dedup, "MAX_BUCKET", 5)
    assert winnow_candidates(df, min_shared=1).count() == 0


def test_winnow_profile_kernel_matches_naive_reference(spark):
    """The fused Arrow profile kernel (the registry hot path) must be
    bit-identical to profiling the naive reference's shingles and
    fingerprints — including the shorter-than-window clamp and unicode
    passthrough."""
    texts = [
        "The quick brown fox jumps over the lazy dog",
        "ab",          # shorter than k: one zero-padded shingle
        "abcdefg",     # fewer shingles than the window
        "x" * 200,     # constant text: one distinct fingerprint
        "Unicode façade – naïve",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    prof = winnow_profile_kernel(K, W)
    fast = {
        r["doc_id"]: (r["p"]["n_shingles"], r["p"]["n_fps"], r["p"]["fp_min"], r["p"]["fp_max"])
        for r in df.select("doc_id", prof("text").alias("p")).collect()
    }
    slow = {}
    for i, t in enumerate(texts):
        fps = _naive_winnow(t)
        slow[i] = (len(_naive_shingle_hashes(t)), len(fps), min(fps), max(fps))
    assert fast == slow


def test_winnow_fingerprints_kernel_matches_naive_reference(spark):
    """Array kernel (the winnow_candidates hot path) returns the naive
    reference's fingerprint SETS, and the candidate pairs with their
    shared-fingerprint counts are the pairwise set intersections."""
    texts = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta epsilon different tail here",
        "zz",
        "totally unrelated content qwertyuiop",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    kern = winnow_fingerprints_kernel(K, W)
    fast = {
        r["doc_id"]: sorted(r["f"])
        for r in df.select("doc_id", kern("text").alias("f")).collect()
    }
    naive = {i: _naive_winnow(t) for i, t in enumerate(texts)}
    assert fast == {i: sorted(fps) for i, fps in naive.items()}

    got = {
        (r["id_a"], r["id_b"], r["n_shared"])
        for r in winnow_candidates(df, min_shared=1).collect()
    }
    want = {
        (a, b, len(naive[a] & naive[b]))
        for a in naive
        for b in naive
        if a < b and naive[a] & naive[b]
    }
    assert got == want and got
