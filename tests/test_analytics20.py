"""Semantic invariants of the twenty-fourth bank (Spearman rank
correlation, gapped sequence support) — exact pure-Python replicas on
the same data, beyond the oracle-parity hash gate."""

from __future__ import annotations

import math
from collections import defaultdict

from gtfs_realtime_etl_spark.plans.analytics20 import (
    q_seq_pairs_support,
    q_spearman_corr,
)
from gtfs_realtime_etl_spark.sources.testdata import load_testdata
from tests.conftest import SF_CORRECTNESS

_NS_PER_DAY = 86_400_000_000_000
_NS_PER_HOUR = 3_600_000_000_000


def _cents(value: float) -> int:
    return int(math.floor(value * 100 + 0.5))


def _events(spark):
    return (
        load_testdata(spark, SF_CORRECTNESS, "events")[0]
        .select("user_id", "event_id", "event_type", "ts", "value")
        .collect()
    )


def _scale(dx: int, dy: int) -> tuple[int, int]:
    """(scale_e, g=10^scale_e) — the shared quantization factor."""
    e = max(0, len(str(max(dx, dy, 1))) - 15)
    return e, 10**e


def _tdiv(a: int, b: int) -> int:
    """Truncating (toward-zero) integer division, matching Spark `div`
    and DuckDB `//` (both pinned toward-zero in test_analytics18)."""
    q = abs(a) // b
    return -q if a < 0 else q


def _doubled_avg_ranks(values: list[int]) -> dict[int, int]:
    """value -> doubled average rank (2*cum - c + 1) over the sorted
    multiset."""
    counts: dict = defaultdict(int)
    for v in values:
        counts[v] += 1
    out, cum = {}, 0
    for v in sorted(counts):
        c = counts[v]
        cum += c
        out[v] = 2 * cum - c + 1
    return out


def test_spearman_corr_matches_python_replica(spark):
    rows = _events(spark)
    by_type: dict = defaultdict(list)
    for r in rows:
        by_type[r.event_type].append(
            (_cents(r.value), (r.ts % _NS_PER_DAY) // _NS_PER_HOUR)
        )
    expected = {}
    for t, xys in by_type.items():
        rx = _doubled_avg_ranks([x for x, _ in xys])
        ry = _doubled_avg_ranks([y for _, y in xys])
        n = len(xys)
        srx = sum(rx[x] for x, _ in xys)
        sry = sum(ry[y] for _, y in xys)
        sxy = sum(rx[x] * ry[y] for x, y in xys)
        sxx = sum(rx[x] ** 2 for x, _ in xys)
        syy = sum(ry[y] ** 2 for _, y in xys)
        num = n * sxy - srx * sry
        dx = n * sxx - srx * srx
        dy = n * syy - sry * sry
        e, g = _scale(dx, dy)
        nq, dxq, dyq = _tdiv(num, g), dx // g, dy // g
        rho2 = (
            (1 if num >= 0 else -1) * (nq * nq * 1_000_000 // (dxq * dyq))
            if dx > 0 and dy > 0 and dxq > 0 and dyq > 0
            else None
        )
        expected[t] = (n, e, nq, dxq, dyq, rho2)
        # Cross-check the signed square against float Spearman.
        if dx > 0 and dy > 0:
            rho_f = num / math.sqrt(dx * dy)
            assert abs(abs(rho_f) * rho_f - (rho2 or 0) / 1e6) < 1e-5
    got = {
        r.event_type: (r.n, r.scale_e, r.num, r.dx, r.dy, r.rho2_signed_ppm)
        for r in q_spearman_corr(spark, SF_CORRECTNESS).collect()
    }
    assert got == expected
    # The correctness fixture must exercise the exact (unquantized)
    # regime so the quantized outputs equal the raw components there.
    assert all(v[1] == 0 for v in expected.values())


def test_seq_pairs_support_matches_python_replica(spark):
    rows = _events(spark)
    spans: dict = {}
    for r in rows:
        k = (r.user_id, r.event_type)
        if k not in spans:
            spans[k] = [r.ts, r.ts]
        else:
            spans[k][0] = min(spans[k][0], r.ts)
            spans[k][1] = max(spans[k][1], r.ts)
    by_user: dict = defaultdict(dict)
    for (u, t), (mn, mx) in spans.items():
        by_user[u][t] = (mn, mx)
    support: dict = defaultdict(int)
    eligible = 0
    for u, types in by_user.items():
        if len(types) >= 2:
            eligible += 1
        for a, (amin, _) in types.items():
            for b, (_, bmax) in types.items():
                if a != b and amin < bmax:
                    support[(a, b)] += 1
    expected = {
        k: (n, eligible, n * 1_000_000 // eligible)
        for k, n in support.items()
    }
    got = {
        (r.t_first, r.t_then): (r.n_users, r.n_eligible, r.support_ppm)
        for r in q_seq_pairs_support(spark, SF_CORRECTNESS).collect()
    }
    assert got == expected
    # Anti-symmetry sanity: support(a,b) + support(b,a) >= n_users(a&b
    # co-present) — at minimum every ordered pair is bounded by the
    # eligible population.
    assert all(v[0] <= v[1] for v in got.values())


# ---------------------------------------------------------------------------
# quantize_spearman_components: 128-bit-edge portability (round-10
# advisor fix — the unquantized rho2 intermediate num^2*1e6 overflowed
# DECIMAL(38,0)/HUGEINT: loud engine errors under this repo's ANSI-on
# sessions, silent NULL-vs-error divergence under non-ANSI ones).
# Spark vs DuckDB vs exact-int Python on adversarial component
# values, including the n ~ 2.2e9 exact-regime ceiling.
# ---------------------------------------------------------------------------

_EDGE_COMPONENTS = [
    # (tag, num_x, dx_x, dy_x)
    ("tiny_exact", 123_456, 1_000_000, 2_000_000),
    ("neg_tiny", -123_456, 1_000_000, 2_000_000),
    ("e0_ceiling", 10**14, 10**15 - 1, 10**15 - 1),
    ("e1_first", 3 * 10**14, 10**15, 10**15),
    # Strong correlation at the n~2.2e9 exact-regime edge: the OLD
    # form's num^2*1e6 ~ 1.5e79 would overflow 128 bits outright.
    ("huge_pos", 39 * 10**35, 4 * 10**36, 4 * 10**36),
    ("huge_neg", -(39 * 10**35), 4 * 10**36, 4 * 10**36),
    # Asymmetric but within 15 digits of each other (dxq = 1e11 >=
    # the 1e6 floor -> reported).
    ("asym_ok", 10**20, 10**22, 10**25),
    # >15 orders of magnitude apart: quantized denominator underflows
    # to 0 -> NULL by documented convention (identically in both).
    ("asym_null", 10**10, 10**3, 10**36),
    # Round-11 advisor fix: dxq = 1 (> 0, so the OLD convention
    # reported a value ~50% off — 374999 for a true 249999); below
    # the 1e6 floor -> NULL now.
    ("asym_floor_null", 15 * 10**30, 15 * 10**22, 9 * 10**37),
    # Quantized denominator exactly AT the floor -> reported, and the
    # inflation is bounded at the ppm grain (true 999999, reported
    # 1000000 -- the clamp keeps it inside |rho| <= 1 regardless).
    (
        "asym_floor_keep",
        # num = isqrt(dx*dy) for the dx/dy below (Cauchy-Schwarz max).
        30_000_014_999_996_266_668_549_998_811_037,
        10**6 * 10**21 + 10**21 - 1,
        9 * 10**14 * 10**21 + 10**21 - 1,
    ),
    # Degenerate: constant x (dx = 0) -> NULL.
    ("degenerate", 0, 0, 10**30),
    ("zero_num", 0, 10**36, 10**36),
]


def _py_quantize(num: int, dx: int, dy: int):
    e, g = _scale(dx, dy)
    nq, dxq, dyq = _tdiv(num, g), dx // g, dy // g
    rho2 = (
        max(
            -1_000_000,
            min(
                1_000_000,
                (1 if num >= 0 else -1)
                * (nq * nq * 1_000_000 // (dxq * dyq)),
            ),
        )
        if dx > 0 and dy > 0 and (e == 0 or min(dxq, dyq) >= 10**6)
        else None
    )
    return (e, nq, dxq, dyq, rho2)


def test_quantize_spearman_components_cross_engine_edges(spark):
    import duckdb

    from gtfs_realtime_etl_spark.plans.analytics20 import (
        quantize_spearman_components,
    )

    values_sql = ", ".join(
        f"('{t}', CAST(1 AS BIGINT), CAST('{a}' AS DECIMAL(38,0)),"
        f" CAST('{b}' AS DECIMAL(38,0)), CAST('{c}' AS DECIMAL(38,0)))"
        for t, a, b, c in _EDGE_COMPONENTS
    )
    raw = spark.sql(
        "SELECT * FROM VALUES "
        + values_sql
        + " AS t(event_type, n, num_x, dx_x, dy_x)"
    )
    got_spark = {
        r.event_type: (r.scale_e, r.num, r.dx, r.dy, r.rho2_signed_ppm)
        for r in quantize_spearman_components(raw).collect()
    }

    duck_values = ", ".join(
        f"('{t}', CAST(1 AS BIGINT), CAST('{a}' AS HUGEINT),"
        f" CAST('{b}' AS HUGEINT), CAST('{c}' AS HUGEINT))"
        for t, a, b, c in _EDGE_COMPONENTS
    )
    got_duck = {
        row[0]: tuple(row[1:])
        for row in duckdb.sql(
            f"""
            WITH raw(event_type, n, num_x, dx_x, dy_x) AS (
              VALUES {duck_values}
            ),
            scaled AS (
              SELECT *,
                CAST('1' || REPEAT('0', GREATEST(LENGTH(CAST(GREATEST(
                  dx_x, dy_x, CAST(1 AS HUGEINT)) AS VARCHAR)) - 15, 0))
                  AS HUGEINT) AS g,
                CAST(GREATEST(LENGTH(CAST(GREATEST(dx_x, dy_x,
                  CAST(1 AS HUGEINT)) AS VARCHAR)) - 15, 0) AS BIGINT)
                  AS scale_e
              FROM raw
            )
            SELECT event_type, scale_e,
                   CAST(num_x // g AS BIGINT) AS num,
                   CAST(dx_x // g AS BIGINT) AS dx,
                   CAST(dy_x // g AS BIGINT) AS dy,
                   CASE WHEN dx_x > 0 AND dy_x > 0
                         AND (scale_e = 0 OR LEAST(dx_x // g, dy_x // g)
                              >= 1000000) THEN
                     LEAST(GREATEST(
                       CAST((CASE WHEN num_x >= 0 THEN 1 ELSE -1 END)
                            * (((num_x // g) * (num_x // g) * 1000000)
                               // ((dx_x // g) * (dy_x // g))) AS BIGINT),
                       CAST(-1000000 AS BIGINT)), CAST(1000000 AS BIGINT))
                   END AS rho2_signed_ppm
            FROM scaled
            """
        ).fetchall()
    }

    expected = {
        t: _py_quantize(a, b, c) for t, a, b, c in _EDGE_COMPONENTS
    }
    assert got_spark == expected
    assert got_duck == expected
    # Spot-check the headline case against float math: rho ~ 0.975.
    e, nq, dxq, dyq, rho2 = expected["huge_pos"]
    assert e == 22 and rho2 is not None
    assert abs(rho2 / 1e6 - (39 / 40) ** 2) < 1e-3
