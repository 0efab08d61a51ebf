"""Statistical column functions.

The reference computes stop "reliability" client-side with scipy:
``norm.cdf(z_max) - norm.cdf(z_min)`` over the fitted per-stop normal
(schedule_deviation.ipynb:838-841).  We absorb it into the Spark plan as
pure Column arithmetic so only the final per-stop table leaves the engine.

``norm_cdf`` uses the Abramowitz & Stegun 7.1.26 erf approximation
(max abs error 1.5e-7) — well below the reporting precision, and exactly
reproducible in ANSI SQL for oracle checking.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A&S 7.1.26 coefficients.
_A1, _A2, _A3, _A4, _A5 = (
    0.254829592,
    -0.284496736,
    1.421413741,
    -1.453152027,
    1.061405429,
)
_P = 0.3275911
_INV_SQRT2 = 0.7071067811865476


def _erf_abs(x: Column) -> Column:
    """erf(|x|) via A&S 7.1.26 (valid for x >= 0)."""
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_P) * x)
    poly = t * (
        F.lit(_A1)
        + t * (F.lit(_A2) + t * (F.lit(_A3) + t * (F.lit(_A4) + t * F.lit(_A5))))
    )
    return F.lit(1.0) - poly * F.exp(-x * x)


def norm_cdf(x: Column) -> Column:
    """Standard normal CDF Φ(x) as a native Column expression."""
    z = x * F.lit(_INV_SQRT2)
    az = F.abs(z)
    erf_az = _erf_abs(az)
    erf_z = F.when(z < 0, -erf_az).otherwise(erf_az)
    return F.lit(0.5) * (F.lit(1.0) + erf_z)


# ANSI-SQL rendering of the same approximation, for DuckDB oracle parity.
NORM_CDF_SQL_TEMPLATE = (
    "(0.5 * (1.0 + CASE WHEN ({x}) * {inv_sqrt2} < 0 THEN -1 ELSE 1 END * "
    "(1.0 - (1.0 / (1.0 + {p} * ABS(({x}) * {inv_sqrt2}))) * "
    "({a1} + (1.0 / (1.0 + {p} * ABS(({x}) * {inv_sqrt2}))) * "
    "({a2} + (1.0 / (1.0 + {p} * ABS(({x}) * {inv_sqrt2}))) * "
    "({a3} + (1.0 / (1.0 + {p} * ABS(({x}) * {inv_sqrt2}))) * "
    "({a4} + (1.0 / (1.0 + {p} * ABS(({x}) * {inv_sqrt2}))) * {a5})))) * "
    "EXP(-(({x}) * {inv_sqrt2}) * (({x}) * {inv_sqrt2})))))"
)


def norm_cdf_sql(x_expr: str) -> str:
    """DuckDB-runnable SQL for ``norm_cdf`` over the expression ``x_expr``,
    algebraically identical to the Column version (same op order → same
    float64 result)."""
    return NORM_CDF_SQL_TEMPLATE.format(
        x=x_expr,
        inv_sqrt2=repr(_INV_SQRT2),
        p=repr(_P),
        a1=repr(_A1),
        a2=repr(_A2),
        a3=repr(_A3),
        a4=repr(_A4),
        a5=repr(_A5),
    )


# ---------------------------------------------------------------------------
# Portable log2 for positive integers.
#
# Engine-native log/log2 differ between Spark (JVM libm) and other
# engines in the last ulp, which flips round-to-k-digits at a boundary and
# breaks cross-engine hash parity when thousands of values are in
# play.  This computes log2(n) for INTEGER n >= 1 from correctly-
# rounded IEEE-754 operations only (+, -, *, / and an EXACT 2^e via an
# integer shift), so every ANSI engine that evaluates the same
# expression tree produces the bit-identical double:
#
#   e = floor(log2 n)  (bit length - 1: exact integer arithmetic)
#   m = n / 2^e in [1, 2)
#   ln m = 2t * sum_{j>=0} s^j/(2j+1),  t = (m-1)/(m+1), s = t^2
#   log2 n = e + (2t * horner(s)) / ln 2
#
# Truncated at j = 14: |s| <= 1/9, truncation < 1e-15 — far below the
# 12-dp rounding the callers apply, and identical in both engines
# because every coefficient is the same double literal and every op is
# correctly rounded.  Same portability pattern as norm_cdf above.
# ---------------------------------------------------------------------------

_LOG2_TERMS = 14
_LN2 = 0.6931471805599453


def micro_bits(lg: Column) -> Column:
    """``floor(lg·1e6 + 0.5)`` as BIGINT — the shared micro-bit
    quantization over an (already-staged) portable log2 double.  IEEE
    multiplication is commutative, so this one helper serves the call
    sites that historically wrote ``1e6 * lg`` and ``lg * 1e6``
    bit-identically."""
    return F.floor(lg * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")


def _log2_horner_sql(s_ref: str) -> str:
    """The Horner accumulation as SQL text over a named ``s`` column —
    double literals carry the ``D`` suffix so Spark parses them with
    Double.parseDouble (correctly rounded; a bare decimal literal would
    route through DECIMAL first).  ``repr`` emits the shortest string
    that round-trips, so each parsed double is bit-identical to the
    Python double ``1.0 / (2*j+1)``, which the DuckDB emitter writes
    with the same ``repr``."""
    acc = f"{1.0 / (2 * _LOG2_TERMS + 1)!r}D"
    for j in range(_LOG2_TERMS - 1, -1, -1):
        acc = f"({acc}) * {s_ref} + {1.0 / (2 * j + 1)!r}D"
    return acc


def portable_int_log2_staged(df, cols: dict) -> "DataFrame":
    """Portable log2 of positive INTEGER SQL expressions: adds one
    DOUBLE column per ``(name, sql_expr)`` of ``cols`` (behavior is
    undefined for values < 1).  The arithmetic is the block comment's,
    op-for-op the same as :func:`portable_int_log2_sql` (the DuckDB
    emitter), so both engines produce the bit-identical double — pinned
    on a 213-value grid in tests/test_functions.py.

    Each instance's ``n / e / m / t / s`` intermediates are bound to
    NAMED columns, one ``selectExpr`` level per intermediate.  Inlined,
    the Horner chain splices the whole mantissa subtree once per term
    (``s`` appears ``_LOG2_TERMS`` times, each carrying the full
    ``t → m → e → n`` chain), so a plan needing several log2 columns
    pays O(terms × subtree × instances) in Catalyst analysis and codegen
    — on ``feature_mi`` that compile cost, not data, dominated the
    query.  Every named intermediate is referenced more than once
    downstream, so Catalyst's CollapseProject keeps it materialized and
    the plan stays linear in the term count.  Parsing SQL text JVM-side
    costs six py4j round trips where building the same tree from Column
    objects cost thousands (2.2 s of feature_mi's plan construction at
    sf0.1).  Intermediates are dropped before returning; column order
    of ``cols`` is preserved."""
    names = list(cols)
    out = df.selectExpr(
        "*", *[f"CAST(({cols[n]}) AS BIGINT) AS _{n}__n" for n in names]
    )
    out = out.selectExpr(
        "*", *[f"length(bin(_{n}__n)) - 1 AS _{n}__e" for n in names]
    )
    # shiftleft(1, e) is the EXACT 2^e (never libm pow).
    out = out.selectExpr(
        "*",
        *[
            f"CAST(_{n}__n AS DOUBLE) / "
            f"CAST(shiftleft(CAST(1 AS BIGINT), _{n}__e) AS DOUBLE) "
            f"AS _{n}__m"
            for n in names
        ],
    )
    out = out.selectExpr(
        "*",
        *[f"(_{n}__m - 1.0D) / (_{n}__m + 1.0D) AS _{n}__t" for n in names],
    )
    out = out.selectExpr(
        "*", *[f"_{n}__t * _{n}__t AS _{n}__s" for n in names]
    )
    out = out.selectExpr(
        "*",
        *[
            f"CAST(_{n}__e AS DOUBLE) + 2.0D * _{n}__t * "
            f"({_log2_horner_sql(f'_{n}__s')}) / {_LN2!r}D AS {n}"
            for n in names
        ],
    )
    return out.drop(*[f"_{n}__{p}" for n in names for p in "nemts"])


def portable_int_log2_sql(expr: str, prefix: str) -> str:
    """DuckDB emitter of :func:`portable_int_log2_staged` as lateral-alias
    SELECT items.  Returns a SQL fragment defining ``<prefix>_lg`` (the log2
    value) via intermediate aliases — splice into a SELECT list."""
    c0 = repr(1.0 / (2 * _LOG2_TERMS + 1))
    acc = c0
    for j in range(_LOG2_TERMS - 1, -1, -1):
        acc = f"({acc} * {prefix}_s + {repr(1.0 / (2 * j + 1))})"
    return (
        f"CAST({expr} AS BIGINT) AS {prefix}_n, "
        f"length(format('{{:b}}', {prefix}_n)) - 1 AS {prefix}_e, "
        f"CAST({prefix}_n AS DOUBLE) / CAST((CAST(1 AS BIGINT) << {prefix}_e) AS DOUBLE) AS {prefix}_m, "
        f"({prefix}_m - 1.0) / ({prefix}_m + 1.0) AS {prefix}_t, "
        f"{prefix}_t * {prefix}_t AS {prefix}_s, "
        f"{acc} AS {prefix}_acc, "
        f"CAST({prefix}_e AS DOUBLE) + 2.0 * {prefix}_t * {prefix}_acc / {repr(_LN2)} AS {prefix}_lg"
    )

