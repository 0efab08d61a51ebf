"""Semantic invariants of the sixteenth bank (set-similarity join, KMV
sketch, naive Bayes, RAKE, feature hashing) beyond the oracle-parity
hash gate — each operator is checked against an independent exact
pure-Python replica on the same data (all five are integer-exact by
construction, so the replicas compare with ==, no tolerances)."""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict

from gtfs_realtime_etl_spark.plans.analytics12 import (
    FH_BUCKETS,
    FH_TOPK,
    KMV_K,
    RAKE_MAX_LEN,
    RAKE_TOPK,
    SETSIM_DEN,
    SETSIM_K,
    SETSIM_NUM,
    _RAKE_STOPS,
    q_feature_hashing,
    q_keyphrase_rake,
    q_kmv_distinct,
    q_naive_bayes_lang,
    q_setsim_join,
)
from gtfs_realtime_etl_spark.sources.testdata import load_testdata
from tests.conftest import SF_CORRECTNESS

_FOLD = str.maketrans(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"
)


def _docs(spark):
    return (
        load_testdata(spark, SF_CORRECTNESS, "documents")[0]
        .select("doc_id", "text", "lang")
        .collect()
    )


def _toks(text: str) -> list[str]:
    return [t for t in re.split(r"\s+", text.translate(_FOLD)) if t]


def _shingle_list(text: str) -> list[str]:
    lower = text.translate(_FOLD)
    m = max(len(lower) - (SETSIM_K - 1), 1)
    return [lower[i : i + SETSIM_K] for i in range(m)]


def _shingle_hash_set(text: str) -> set[int]:
    """Python reference for functions.hashing.shingle_hash64_set_kernel
    (62-bit composite window polynomial, zero padding past the end)."""
    from gtfs_realtime_etl_spark.functions.hashing import (
        BASE_A,
        BASE_B,
        H64_SHIFT,
        MOD,
    )

    codes = [ord(c) for c in text.translate(_FOLD)]
    k = SETSIM_K
    m = max(len(codes) - (k - 1), 1)
    pwa = [pow(BASE_A, k - 1 - j, MOD) for j in range(k)]
    pwb = [pow(BASE_B, k - 1 - j, MOD) for j in range(k)]
    padded = codes + [0] * k
    return {
        (sum(padded[i + j] * pwa[j] for j in range(k)) % MOD) * H64_SHIFT
        + (sum(padded[i + j] * pwb[j] for j in range(k)) % MOD)
        for i in range(m)
    }


def _h40(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:10], 16)


def _plog2(n: int) -> float:
    """Exact replica of functions.stats.portable_int_log2_staged (same
    IEEE double operation order)."""
    e = n.bit_length() - 1
    p = float(1 << e)
    m = n / p
    t = (m - 1.0) / (m + 1.0)
    s = t * t
    acc = 1.0 / (2 * 14 + 1)
    for j in range(13, -1, -1):
        acc = acc * s + 1.0 / (2 * j + 1)
    return float(e) + 2.0 * t * acc / 0.6931471805599453


def _plog2m(n: int) -> int:
    return math.floor(1_000_000.0 * _plog2(n) + 0.5)


def test_shingle_hash64_kernel_matches_python_reference(spark):
    """The Arrow kernel setsim_join runs on must produce the Python
    reference's hash SETS (sorted, distinct) on the real corpus."""
    from pyspark.sql import functions as F

    from gtfs_realtime_etl_spark.functions.hashing import (
        shingle_hash64_set_kernel,
    )

    docs = load_testdata(spark, SF_CORRECTNESS, "documents")[0]
    rows = docs.select(
        "text", shingle_hash64_set_kernel(SETSIM_K)(F.col("text")).alias("k")
    ).collect()
    assert rows
    for r in rows:
        assert list(r.k) == sorted(_shingle_hash_set(r.text)), r.text[:40]


def test_setsim_join_matches_bruteforce(spark):
    """The prefix-filtered join must equal the quadratic all-pairs
    ground truth EXACTLY — losslessness of the prefix filter."""
    docs = _docs(spark)
    sets = {r.doc_id: _shingle_hash_set(r.text) for r in docs}
    expected = {}
    ids = sorted(sets)
    for i, da in enumerate(ids):
        for db in ids[i + 1 :]:
            a, b = sets[da], sets[db]
            inter = len(a & b)
            union = len(a) + len(b) - inter
            if inter * SETSIM_DEN >= SETSIM_NUM * union:
                expected[(da, db)] = (
                    len(a),
                    len(b),
                    inter,
                    inter * 1_000_000 // union,
                )
    rows = q_setsim_join(spark, SF_CORRECTNESS).collect()
    got = {
        (r.doc_a, r.doc_b): (r.n_a, r.n_b, r.n_inter, r.jaccard_ppm)
        for r in rows
    }
    assert got == expected
    assert len(got) > 0


def test_kmv_theorems_and_replica(spark):
    """merge_consistent must hold by theorem, within_bound by
    measurement; kth/m/est must equal the hashlib replica."""
    events = load_testdata(spark, SF_CORRECTNESS, "events")[0].select("event_type", "user_id").collect()
    by_type = defaultdict(set)
    exact = defaultdict(set)
    for r in events:
        by_type[r.event_type].add(_h40(str(r.user_id)))
        exact[r.event_type].add(r.user_id)
    rows = q_kmv_distinct(spark, SF_CORRECTNESS).collect()
    assert rows
    for r in rows:
        hs = sorted(by_type[r.event_type])
        m = min(KMV_K, len(hs))
        kth = hs[m - 1]
        est = m if m < KMV_K else (KMV_K - 1) * (1 << 40) // kth
        assert (r.m, r.kth_min, r.kmv_est) == (m, kth, est), r.event_type
        assert r.n_exact == len(exact[r.event_type])
        assert r.merge_consistent is True  # provable sketch mergeability
        assert r.within_bound is True


def test_naive_bayes_matches_python_replica(spark):
    docs = _docs(spark)
    train = [r for r in docs if r.doc_id % 2 == 0]
    test = [r for r in docs if r.doc_id % 2 == 1]
    cnt: Counter = Counter()
    n_l: Counter = Counter()
    vocab = set()
    d_l: Counter = Counter()
    for r in train:
        d_l[r.lang] += 1
        for t in _toks(r.text):
            cnt[(r.lang, t)] += 1
            n_l[r.lang] += 1
            vocab.add(t)
    v = len(vocab)
    d = len(train)
    langs = sorted(d_l)
    denom = {lg: _plog2m(n_l.get(lg, 0) + v) for lg in langs}
    prior = {lg: _plog2m(d_l[lg]) - _plog2m(d) for lg in langs}
    confusion: Counter = Counter()
    for r in test:
        tc = Counter(_toks(r.text))
        if not tc:
            continue  # zero-token docs never enter the scored set
        scores = {}
        for lg in langs:
            s = prior[lg]
            for tok, c in tc.items():
                ll1 = _plog2m(cnt[(lg, tok)] + 1) if (lg, tok) in cnt else 0
                s += c * (ll1 - denom[lg])
            scores[lg] = s
        pred = min(langs, key=lambda lg: (-scores[lg], lg))
        confusion[(r.lang, pred)] += 1
    rows = q_naive_bayes_lang(spark, SF_CORRECTNESS).collect()
    got = {(r.true_lang, r.pred_lang): r.n_docs for r in rows}
    assert got == dict(confusion)
    assert sum(got.values()) == sum(confusion.values()) > 0


def _rake_python(docs):
    occurrences = []  # word tuples of every kept candidate phrase
    for r in docs:
        phrase: list[str] = []
        for tok in _toks(r.text) + ["."]:  # sentinel break flushes tail
            if not re.fullmatch("[a-z]+", tok) or tok in _RAKE_STOPS:
                if 1 <= len(phrase) <= RAKE_MAX_LEN:
                    occurrences.append(tuple(phrase))
                phrase = []
            else:
                phrase.append(tok)
    freq: Counter = Counter()
    deg: Counter = Counter()
    for words in occurrences:
        for w in words:
            freq[w] += 1
            deg[w] += len(words)
    per_phrase: Counter = Counter(" ".join(w) for w in occurrences)
    scored = []
    for phrase, cnt in per_phrase.items():
        words = phrase.split(" ")
        dsum = sum(deg[w] for w in words)
        fsum = sum(freq[w] for w in words)
        scored.append(
            (phrase, len(words), cnt, dsum * 1_000_000 // fsum)
        )
    scored.sort(key=lambda x: (-x[3], -x[2], x[0]))
    return scored[:RAKE_TOPK]


def test_rake_matches_python_replica(spark):
    docs = _docs(spark)
    expected = _rake_python(docs)
    rows = q_keyphrase_rake(spark, SF_CORRECTNESS).collect()
    got = [(r.phrase, r.n_words, r.cnt, r.score_ppm) for r in rows]
    assert got == expected
    assert len(got) == RAKE_TOPK


def test_feature_hashing_matches_python_replica(spark):
    docs = _docs(spark)
    occ: Counter = Counter()
    for r in docs:
        occ.update(_shingle_list(r.text))
    buckets: Counter = Counter()
    bocc: Counter = Counter()
    for tok, c in occ.items():
        b = _h40(tok) % FH_BUCKETS
        buckets[b] += 1
        bocc[b] += c
    vocab = len(occ)
    used = len(buckets)
    coll = (vocab - used) * 1_000_000 // vocab
    top = sorted(buckets.items(), key=lambda kv: (-kv[1], kv[0]))[:FH_TOPK]
    expected = [
        (b, n, bocc[b], used, vocab, coll) for b, n in top
    ]
    rows = q_feature_hashing(spark, SF_CORRECTNESS).collect()
    got = [
        (r.bucket, r.n_tokens, r.n_occ, r.buckets_used, r.vocab_size,
         r.collision_ppm)
        for r in rows
    ]
    assert got == expected
    # The shingle vocabulary must be wide enough to exercise the
    # birthday regime (the module-doc rationale for shingles).
    assert vocab > FH_BUCKETS
