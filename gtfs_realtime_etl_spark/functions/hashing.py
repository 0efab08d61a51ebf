"""Portable (cross-engine) content hashing for dedup signatures.

Round 1 built MinHash/SimHash signatures on Spark's ``xxhash64`` — fast,
but inexpressible in ANSI SQL, so the driver's DuckDB oracle could not
verify any of the near-dedup family.  This module replaces it with
polynomial rolling hashes over character codes mod the Mersenne prime
2^31 - 1:

    h(s) = (sum_j code(s[j]) * BASE^(len-1-j)) mod (2^31 - 1)

which every engine can compute exactly in int64 arithmetic.  Each hash
has one Spark form and one DuckDB form, bit-identical to each other:

- **Arrow-batched numpy kernels** run every Spark shingle, MinHash,
  SimHash, winnowing and document-fingerprint computation:
  sliding-window matrix products, no per-character Python.
- **One Spark Column form**, :func:`token_hash64_column`, hashes short
  keys (a doc id, a split group) inside a projection where a UDF
  round trip would cost more than the hash (``q_weighted_sample``,
  ``operators.splits.group_hash_mixed``).
- **DuckDB SQL emitters** are the oracle side: the same arithmetic as
  ``list_transform``/``list_reduce`` expressions.  The registry oracles
  and ``tests/test_hashing_properties.py`` check each Spark form
  against them.

64-bit token hashes for SimHash are built from two independent 31-bit
polynomial hashes (bases 31 and 37): ``h64 = h31 * 2^31 + h37`` — 62
effective bits, never overflowing int64 (h31 < 2^31 so the product is
< 2^62), and still plain SQL.

Overflow discipline (ANSI-mode safe): character codes < 2^21, powers and
hash values < 2^31, so every product stays under 2^52 and every affine
fold ``a*h + b`` under 2^62.
"""

from __future__ import annotations

import string

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

#: Case folding for shingle hashing is ASCII-ONLY (A-Z → a-z) in every
#: form.  Full Unicode lowercasing is engine-specific (Python
#: 'İ'.lower() → 2 codepoints, DuckDB/utf8proc → 1, JVM locale
#: rules differ again) and would break bit-identity on non-ASCII text —
#: ASCII folding is deterministic everywhere and is the conventional
#: normalization for dedup fingerprints.
_ASCII_UPPER = string.ascii_uppercase
_ASCII_LOWER = string.ascii_lowercase
_LOWER_TABLE = str.maketrans(_ASCII_UPPER, _ASCII_LOWER)


def _ascii_lower(t: str) -> str:
    return t.translate(_LOWER_TABLE)

#: Mersenne prime 2^31 - 1 — the hash modulus everywhere.
MOD = 2147483647
#: Polynomial bases for the two independent 31-bit hashes.
BASE_A = 31
BASE_B = 37
#: h64 = h_a * H64_SHIFT + h_b  (62 effective bits).
H64_SHIFT = 1 << 31
#: Effective bit width of the composite 64-bit token hash.
H64_BITS = 62

# ---------------------------------------------------------------------------
# MinHash permutation parameters: affine maps h -> (a*h + b) mod MOD with
# a, b drawn from a fixed LCG so signatures are stable forever (same
# design as Spark MLlib's MinHashLSH).
# ---------------------------------------------------------------------------


def perm_params(n: int) -> list[tuple[int, int]]:
    out = []
    x = 1
    for _ in range(n):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = (x % (MOD - 1)) + 1  # 1 <= a < MOD
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = x % MOD  # 0 <= b < MOD
        out.append((a, b))
    return out


def _pow_vec(base: int, k: int) -> np.ndarray:
    """[base^(k-1), ..., base, 1] mod MOD."""
    out = np.empty(k, dtype=np.int64)
    p = 1
    for j in range(k - 1, -1, -1):
        out[j] = p
        p = (p * base) % MOD
    return out


def _char_codes(t: str) -> np.ndarray:
    """Unicode code points as int64 (fast bytes path for pure ASCII)."""
    b = t.encode("utf-8")
    if len(b) == len(t):  # pure ASCII: bytes == code points
        return np.frombuffer(b, dtype=np.uint8).astype(np.int64)
    return np.fromiter(map(ord, t), dtype=np.int64, count=len(t))


def _shingle_hashes_np(codes: np.ndarray, k: int, pow_vec: np.ndarray) -> np.ndarray:
    """Hash of every k-char window (positions beyond the end contribute
    code 0, matching ``ascii(substr(..)) = 0`` for out-of-range in SQL);
    texts shorter than k yield exactly one window."""
    n = codes.size
    m = max(n - k + 1, 1)
    padded = np.concatenate([codes, np.zeros(k, dtype=np.int64)])
    windows = padded[np.arange(m)[:, None] + np.arange(k)[None, :]]
    # per-term < 2^21 * 2^31 = 2^52; k terms keep the sum far below 2^63.
    return (windows @ pow_vec) % MOD


def _poly_hash_rows(mat: np.ndarray, base: int) -> np.ndarray:
    """Polynomial hash of each row of a RIGHT-ALIGNED code matrix
    (leading zero padding contributes nothing to the sum).  Chunked so
    partial sums stay below 2^63 for any row width."""
    length = mat.shape[1]
    pw = _pow_vec(base, length)
    acc = np.zeros(mat.shape[0], dtype=np.int64)
    for s in range(0, length, 256):
        acc = (acc + mat[:, s : s + 256] @ pw[s : s + 256]) % MOD
    return acc


# ---------------------------------------------------------------------------
# Arrow-batched kernels (hot path).
# ---------------------------------------------------------------------------


def shingle_hash_set_kernel(k: int = 5):
    """pandas_udf: text → SORTED DISTINCT window hashes (base BASE_A; the
    exact-Jaccard comparison sets).  DuckDB emitter:
    ``list_sort(list_distinct(`` :func:`sql_shingle_hashes` ``))``."""
    pow_vec = _pow_vec(BASE_A, k)

    @F.pandas_udf(ArrayType(LongType()))
    def _kernel(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            out.append(
                np.unique(_shingle_hashes_np(_char_codes(_ascii_lower(t)), k, pow_vec))
            )
        return pd.Series(out)

    return _kernel


def _shingle_hashes64_np(
    codes: np.ndarray, k: int, pwa: np.ndarray, pwb: np.ndarray
) -> np.ndarray:
    """62-bit composite window hashes (hA * 2^31 + hB) — per-term
    bounds as in :func:`_shingle_hashes_np`; the composite stays below
    2^62."""
    n = codes.size
    m = max(n - k + 1, 1)
    padded = np.concatenate([codes, np.zeros(k, dtype=np.int64)])
    windows = padded[np.arange(m)[:, None] + np.arange(k)[None, :]]
    ha = (windows @ pwa) % MOD
    hb = (windows @ pwb) % MOD
    return ha * H64_SHIFT + hb


def shingle_hash64_set_kernel(k: int = 5):
    """pandas_udf: text → SORTED DISTINCT 62-bit composite window
    hashes — the setsim_join comparison sets, collision-safe at
    10^7-10^8-shingle vocabularies where the plain 31-bit space
    produces millions of colliding pairs.  DuckDB emitter:
    plans/analytics12._sql_shingle_hashes64."""
    pwa = _pow_vec(BASE_A, k)
    pwb = _pow_vec(BASE_B, k)

    @F.pandas_udf(ArrayType(LongType()))
    def _kernel(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            out.append(
                np.unique(
                    _shingle_hashes64_np(
                        _char_codes(_ascii_lower(t)), k, pwa, pwb
                    )
                )
            )
        return pd.Series(out)

    return _kernel


def token_hash64_set_kernel():
    """pandas_udf: array<string> tokens → SORTED DISTINCT 62-bit token
    hashes (the token_hash64 composition) — the WORD-mode comparison
    sets for setsim_pairs.  Tokenization stays Spark-side (pass
    functions.text.tokens(...)), so kernel and SQL twin
    (sql_token_hash64) agree on token boundaries by construction; all
    tokens in an Arrow batch are hashed in one right-aligned matrix
    product (the simhash_tokens_kernel idiom)."""

    @F.pandas_udf(ArrayType(LongType()))
    def _kernel(token_lists: pd.Series) -> pd.Series:
        counts: list[int] = []
        all_tokens: list[str] = []
        for toks in token_lists:
            if toks is None:
                counts.append(-1)
                continue
            counts.append(len(toks))
            all_tokens.extend(toks)
        h64 = np.zeros(0, dtype=np.int64)
        if all_tokens:
            codes = [_char_codes(t) for t in all_tokens]
            width = max(c.size for c in codes)
            mat = np.zeros((len(codes), width), dtype=np.int64)
            for r, c in enumerate(codes):
                mat[r, width - c.size :] = c  # right-aligned: pad is a no-op
            h64 = (
                _poly_hash_rows(mat, BASE_A) * H64_SHIFT
                + _poly_hash_rows(mat, BASE_B)
            )
        out: list = []
        pos = 0
        for n in counts:
            if n < 0:
                out.append(None)
                continue
            out.append(np.unique(h64[pos : pos + n]))
            pos += n
        return pd.Series(out)

    return _kernel


def winnow_fingerprints_kernel(k: int = 5, window: int = 4):
    """pandas_udf: text → array<bigint> of DISTINCT winnowing
    fingerprints: the minimum shingle hash of every sliding window of
    ``window`` consecutive shingles.  Texts with fewer than ``window``
    shingles yield ONE window covering all of them.  The fingerprint
    step of :func:`operators.dedup.winnow_candidates`."""
    from numpy.lib.stride_tricks import sliding_window_view

    pow_vec = _pow_vec(BASE_A, k)

    @F.pandas_udf(ArrayType(LongType()))
    def _kernel(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            h = _shingle_hashes_np(_char_codes(_ascii_lower(t)), k, pow_vec)
            if h.size < window:
                mins = np.array([h.min()], dtype=np.int64)
            else:
                mins = sliding_window_view(h, window).min(axis=1)
            out.append(np.unique(mins))
        return pd.Series(out)

    return _kernel


def winnow_profile_kernel(k: int = 5, window: int = 4):
    """pandas_udf: text → struct(n_shingles, n_fps, fp_min, fp_max) —
    the winnowing (MOSS) fingerprint profile, fused: shingle hashes and
    the sliding-window minima in one numpy pass (stride-view min), no
    intermediate arrays shipped back.

    Bit-identical to profiling :func:`winnow_fingerprints_kernel`'s
    output: texts shorter than the window yield ONE window covering all
    shingles, as the oracle's clamped ``list_slice`` does."""
    from numpy.lib.stride_tricks import sliding_window_view
    from pyspark.sql.types import StructField, StructType

    pow_vec = _pow_vec(BASE_A, k)
    out_type = StructType(
        [
            StructField("n_shingles", LongType()),
            StructField("n_fps", LongType()),
            StructField("fp_min", LongType()),
            StructField("fp_max", LongType()),
        ]
    )

    @F.pandas_udf(out_type)
    def _kernel(texts: pd.Series) -> pd.DataFrame:
        rows = []
        for t in texts:
            if t is None:
                rows.append((None, None, None, None))
                continue
            h = _shingle_hashes_np(_char_codes(_ascii_lower(t)), k, pow_vec)
            if h.size < window:
                mins = np.array([h.min()], dtype=np.int64)
            else:
                mins = sliding_window_view(h, window).min(axis=1)
            fps = np.unique(mins)
            rows.append((int(h.size), int(fps.size), int(fps[0]), int(fps[-1])))
        return pd.DataFrame(
            rows, columns=["n_shingles", "n_fps", "fp_min", "fp_max"]
        )

    return _kernel


def minhash_text_kernel(num_hashes: int = 32, k: int = 5):
    """pandas_udf: text → MinHash signature (array<bigint>), fusing
    shingle hashing and the affine-permutation min fold into ONE Arrow
    pass — no intermediate hash-array transfer, no interpreted
    higher-order functions (this was round 1's hottest spot)."""
    params = np.asarray(perm_params(num_hashes), dtype=np.int64)
    a = params[:, 0][:, None]  # (P, 1)
    b = params[:, 1][:, None]
    pow_vec = _pow_vec(BASE_A, k)

    @F.pandas_udf(ArrayType(LongType()))
    def _kernel(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            h = _shingle_hashes_np(_char_codes(_ascii_lower(t)), k, pow_vec)
            # a, b, h < 2^31 ⇒ a*h + b < 2^62: no int64 overflow.
            out.append(((a * h[None, :] + b) % MOD).min(axis=1))
        return pd.Series(out)

    return _kernel


def doc_fingerprint_kernel():
    """pandas_udf: text → whole-document polynomial fingerprint (bigint).

    Bit-identical to the ``doc_fingerprint`` DuckDB oracle's
    ``list_reduce`` Horner fold (base BASE_A, mod MOD): Horner with a
    mod per step equals
    ``sum(code_i * BASE^(n-1-i)) mod MOD``, computed here as one
    vectorized power-dot per document — no per-character interpreted
    expressions (a Column HOF chain costs O(n) interpreted calls per
    char; this was the round-2 `doc_fingerprint` regression)."""

    @F.pandas_udf(LongType())
    def _kernel(texts: pd.Series) -> pd.Series:
        folded = [None if t is None else _char_codes(_ascii_lower(t)) for t in texts]
        maxlen = max((c.size for c in folded if c is not None), default=0)
        pw = _pow_vec(BASE_A, maxlen) if maxlen else np.empty(0, dtype=np.int64)
        out = []
        for c in folded:
            if c is None:
                out.append(None)
            elif c.size == 0:
                out.append(0)
            else:
                # code * power < 2^52; reduce mod MOD before summing so the
                # total stays < n * 2^31 — overflow-free for any doc length.
                out.append(int(((c * pw[maxlen - c.size :]) % MOD).sum() % MOD))
        return pd.Series(out, dtype="object")

    return _kernel


def simhash_tokens_kernel():
    """pandas_udf: array<string> tokens → 62-bit SimHash (bigint).

    Per token, h64 = poly31 * 2^31 + poly37 over its characters; bit j of
    the SimHash is set iff tokens with bit j set outnumber those without
    (vote sum > 0).  All tokens in an Arrow batch are hashed in one
    right-aligned matrix product; per-document vote sums come from a
    cumulative-sum segment reduction (no per-token Python)."""

    @F.pandas_udf(LongType())
    def _kernel(token_lists: pd.Series) -> pd.Series:
        counts: list[int] = []
        all_tokens: list[str] = []
        for toks in token_lists:
            if toks is None:
                counts.append(0)
                continue
            counts.append(len(toks))
            all_tokens.extend(toks)
        ndocs = len(counts)
        res = np.zeros(ndocs, dtype=np.int64)
        if not all_tokens:
            return pd.Series(res)
        codes = [_char_codes(t) for t in all_tokens]
        width = max(c.size for c in codes)
        mat = np.zeros((len(codes), width), dtype=np.int64)
        for r, c in enumerate(codes):
            mat[r, width - c.size :] = c  # right-aligned: zero pad is a no-op
        h64 = _poly_hash_rows(mat, BASE_A) * H64_SHIFT + _poly_hash_rows(mat, BASE_B)
        bits = (
            (h64.astype(np.uint64)[:, None] >> np.arange(H64_BITS, dtype=np.uint64))
            & np.uint64(1)
        ).astype(np.int64)
        # Segment sums via cumulative differences (empty docs fall out as 0).
        csum = np.vstack([np.zeros((1, H64_BITS), dtype=np.int64), np.cumsum(bits, axis=0)])
        ends = np.cumsum(counts)
        starts = ends - np.asarray(counts)
        ones = csum[ends] - csum[starts]  # (ndocs, H64_BITS) count of set bits
        n_tok = np.asarray(counts, dtype=np.int64)[:, None]
        set_bits = (2 * ones) > n_tok  # vote sum = 2*ones - n > 0
        weights = (np.uint64(1) << np.arange(H64_BITS, dtype=np.uint64))[None, :]
        res = (set_bits.astype(np.uint64) * weights).sum(axis=1).astype(np.int64)
        return pd.Series(res)

    return _kernel


# ---------------------------------------------------------------------------
# Spark Column form (production: short keys hashed inside a projection).
# ---------------------------------------------------------------------------


def token_hash64_column(tok: Column) -> Column:
    """62-bit composite token hash (``h31 * 2^31 + h37``) of one string
    Column — the same hash as :func:`token_hash64_set_kernel` and
    :func:`sql_token_hash64`."""

    def _poly(base: int) -> Column:
        chars = F.sequence(F.lit(1), F.length(tok))
        return F.aggregate(
            chars,
            F.lit(0).cast("long"),
            lambda acc, i: F.pmod(
                acc * base + F.ascii(F.substring(tok, i, 1)).cast("long"), F.lit(MOD)
            ),
        )

    return _poly(BASE_A) * F.lit(H64_SHIFT) + _poly(BASE_B)


# ---------------------------------------------------------------------------
# DuckDB SQL emitters (oracle side) — same arithmetic, token for token.
# ---------------------------------------------------------------------------


def sql_shingle_hashes(text_expr: str, k: int = 5) -> str:
    """Window hashes of ``lower(text_expr)``; out-of-range chars hash as
    ascii('') = 0, matching the kernel's zero padding."""
    pow_vec = _pow_vec(BASE_A, k)
    t = f"translate({text_expr}, '{_ASCII_UPPER}', '{_ASCII_LOWER}')"
    terms = " + ".join(
        f"CAST(ascii(substr({t}, i + {j}, 1)) AS BIGINT) * {int(pow_vec[j])}"
        for j in range(k)
    )
    return (
        f"list_transform(range(1, greatest(length({t}) - {k - 1}, 1) + 1), "
        f"i -> ({terms}) % {MOD})"
    )


def sql_minhash_sig(hashes_expr: str, num_hashes: int = 32) -> str:
    """MinHash signature list from a hash-list expression."""
    parts = ", ".join(
        f"list_min(list_transform({hashes_expr}, h -> ({a} * h + {b}) % {MOD}))"
        for a, b in perm_params(num_hashes)
    )
    return f"[{parts}]"


def sql_token_hash64(tok_expr: str) -> str:
    """62-bit composite polynomial hash of one token (DuckDB 1.x
    list_reduce has no seed argument — hence the list_prepend(0) trick)."""

    def _fold(base: int) -> str:
        return (
            f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform(range(1, length({tok_expr}) + 1), "
            f"i -> CAST(ascii(substr({tok_expr}, i, 1)) AS BIGINT))), "
            f"(acc, c) -> (acc * {base} + c) % {MOD})"
        )

    return f"({_fold(BASE_A)} * {H64_SHIFT} + {_fold(BASE_B)})"


def sql_simhash(hashes_expr: str, n_expr: str) -> str:
    """SimHash word from a token-hash-list expression and a token count
    expression: bit j set iff 2 * count(bit j set) > n."""
    terms = " + ".join(
        f"(CASE WHEN 2 * list_sum(list_transform({hashes_expr}, "
        f"h -> (h >> {j}) & 1)) > {n_expr} "
        f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(H64_BITS)
    )
    return f"({terms})"
