"""Text-analysis column functions for training-data pipelines.

All native Column / higher-order-function expressions — no Python UDFs in
the hot path.  These back the documents-table operators (dedup
fingerprints, quality scoring, language ID, token counting).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

#: ASCII-only case folding — engine-portable (see functions/hashing.py):
#: full Unicode lowercasing is engine-specific and breaks cross-engine
#: value parity.
AZ_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
AZ_LOWER = "abcdefghijklmnopqrstuvwxyz"

#: Tiny per-language stopword lists for the n-gram/stopword language-ID
#: heuristic.  Deliberately small + deterministic.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "with"],
    "fr": ["le", "la", "les", "de", "des", "et", "en", "que", "est", "pour"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "von", "zu"],
    "es": ["el", "la", "los", "de", "que", "y", "en", "es", "por", "con"],
}


def tokens(text: Column) -> Column:
    """ASCII-case-folded whitespace tokens (empty strings removed).

    Case folding is ASCII-only (A-Z → a-z) so token values are
    bit-identical across Spark / DuckDB / Python — full Unicode
    lowercasing is engine-specific (see functions/hashing.py)."""
    return F.filter(
        F.split(F.translate(F.trim(text), AZ_UPPER, AZ_LOWER), r"\s+"),
        lambda t: t != "",
    )


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def char_shingles(text: Column, k: int = 5, prefolded: bool = False) -> Column:
    """All k-character shingles of the ASCII-case-folded text
    (array<string>).

    Expressed with sequence+transform so it runs JVM-side; short texts
    (< k chars) yield a single shingle of the whole text.

    HOT-PATH NOTE: the folded text appears inside the per-shingle
    lambda, where a non-attribute expression is re-evaluated PER ELEMENT
    (O(n²) per document).  In hot paths, materialize
    ``F.translate(text, A-Z, a-z)`` as its own projected column first
    and call with ``prefolded=True``.
    """
    lower = text if prefolded else F.translate(text, AZ_UPPER, AZ_LOWER)
    n = F.length(lower)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.substring(lower, i, k))


def _ratio(num: Column, den: Column) -> Column:
    return F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(F.lit(0.0))


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are ASCII punctuation."""
    stripped = F.regexp_replace(text, r"[!-/:-@\[-`{-~]", "")
    return _ratio(F.length(text) - F.length(stripped), F.length(text))


def digit_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[0-9]", "")
    return _ratio(F.length(text) - F.length(stripped), F.length(text))


#: PII-shaped patterns, deliberately written in the regex subset Java
#: (Spark) and RE2 (DuckDB) interpret identically: character classes,
#: bounded repetition, \b word boundaries — no backrefs, no lookaround.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b",
}


def pii_count(text: Column, kind: str) -> Column:
    """Occurrences of one PII pattern (JVM-side regexp_count)."""
    return F.regexp_count(text, F.lit(PII_PATTERNS[kind]))


#: What :func:`redact_pii` writes in place of each PII match.
PII_TOKEN = "[PII]"


def redact_pii(text: Column) -> Column:
    """Scrub every PII pattern occurrence (training corpora must not
    memorize contact strings).  Chained JVM-side regexp_replace —
    replace-all semantics on both engines."""
    out = text
    for pat in PII_PATTERNS.values():
        out = F.regexp_replace(out, pat, PII_TOKEN)
    return out


def sql_pii_count(text_expr: str, kind: str) -> str:
    """DuckDB twin of :func:`pii_count`."""
    pat = PII_PATTERNS[kind].replace("'", "''")
    return f"length(regexp_extract_all({text_expr}, '{pat}'))"


def sql_redact_pii(text_expr: str) -> str:
    """DuckDB twin of :func:`redact_pii` (global replace flag)."""
    out = text_expr
    for pat in PII_PATTERNS.values():
        out = f"regexp_replace({out}, '{pat.replace(chr(39), chr(39)*2)}', '{PII_TOKEN}', 'g')"
    return out


def bigrams(toks: Column) -> Column:
    """Adjacent token pairs joined with one space (array<string>);
    fewer than two tokens → empty array."""
    pair = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return F.when(F.size(toks) >= 2, pair).otherwise(F.array().cast("array<string>"))


def lang_id_kernel():
    """pandas_udf: text → predicted language code (Arrow hot path of
    the ``lang_id`` registry entry).

    Matches the entry's DuckDB oracle
    (``plans/base.py::Q_LANG_ID_SQL``): ASCII-only case folding,
    split on RE2's ``\\s+`` (``[\\t\\n\\f\\r ]+``: no \\x0B, unlike
    Python's and Java's ``\\s``), empty tokens dropped, per-language
    stopword-hit counts, argmax with earliest language (sorted order)
    winning ties, 'und' on zero hits.  NULL text maps to 'und' here and
    to NULL in the oracle; the corpus holds none.
    A Column form costs four interpreted ``filter`` passes over the
    token array per row; this does one Python set-membership pass per
    token."""
    ws = re.compile(r"[\t\n\f\r ]+")
    langs = sorted(STOPWORDS)
    sets = [frozenset(STOPWORDS[lang]) for lang in langs]
    fold = str.maketrans(AZ_UPPER, AZ_LOWER)

    @F.pandas_udf(StringType())
    def _kernel(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append("und")
                continue
            toks = [x for x in ws.split(t.strip(" ").translate(fold)) if x]
            best_lang, best_hits = "und", 0
            for lang, words in zip(langs, sets):
                h = sum(tok in words for tok in toks)
                if h > best_hits:
                    best_lang, best_hits = lang, h
            out.append(best_lang)
        return pd.Series(out, dtype="object")

    return _kernel


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: long-enough, word-shaped, not
    punctuation/digit soup.  Deterministic and cheap; mirrors the shape of
    common LLM-corpus quality filters."""
    n_tok = token_count(text)
    len_ok = F.least(F.length(text).cast("double") / F.lit(200.0), F.lit(1.0))
    tok_ok = F.least(n_tok.cast("double") / F.lit(40.0), F.lit(1.0))
    punct_pen = F.greatest(F.lit(1.0) - punct_ratio(text) * 4.0, F.lit(0.0))
    digit_pen = F.greatest(F.lit(1.0) - digit_ratio(text) * 4.0, F.lit(0.0))
    return (len_ok + tok_ok + punct_pen + digit_pen) / 4.0
