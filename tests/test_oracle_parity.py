"""Every registry query must exactly match its DuckDB oracle — the
local replica of the driver's CORRECTNESS gate (sf0.01).

Lane gating (round-13): the all-202 pass takes ~35 min and pushed the
default suite past the driver's verification window (VERIFY_r12 shows
pytest truncating mid-run at 46% with zero failures — an unverifiable
gate).  The default lane therefore runs a DETERMINISTIC 1-in-3 sample
(every 3rd name of the sorted registry — stable across runs, spread
over every query bank); ``SPARK_GRAFT_FULL_SUITE=1`` restores the full
registry.  Five individually-slow oracle comparisons (``_SLOW_ORACLE``
below) are additionally excluded from the default sample, so with 202
registry queries the default lane runs 68 - 5 = 63 of them.  Every
registry name is still parametrized: names outside the default lane
are marked ``full_suite_only`` and show as skipped, never as absent.
The full lane runs once per round; the external CORRECTNESS sample
plus this default lane still cross-checks every module's shared
infrastructure every run.
"""

from __future__ import annotations

import pytest

from gtfs_realtime_etl_spark.plans.queries import ORACLE_SQL, QUERIES
from gtfs_realtime_etl_spark.testing import compare_to_oracle
from tests.conftest import SF_CORRECTNESS, full_suite_only

#: Individually-measured outliers (default-lane --durations, round-13):
#: dedup_survivors 631 s (the DuckDB one-shot LSH + recursive-CTE
#: components oracle), winnow_dedup 54 s, greedy_coverage 27 s,
#: minhash_lsh_pairs 25 s, leakage_audit 24 s — over 12 min of a
#: ~15-min budget in five tests.  The full lane always runs them.
_SLOW_ORACLE = {
    "dedup_survivors",
    "winnow_dedup",
    "greedy_coverage",
    "minhash_lsh_pairs",
    "leakage_audit",
}

_ORACLE_ALL = sorted(n for n in QUERIES if n in ORACLE_SQL)
_ROWS_ONLY_ALL = sorted(n for n in QUERIES if n not in ORACLE_SQL)
_ORACLE_DEFAULT = {n for n in _ORACLE_ALL[::3] if n not in _SLOW_ORACLE}
_ROWS_ONLY_DEFAULT = set(_ROWS_ONLY_ALL[::3])


def _lane(names, default):
    """Every name as a parameter; those outside the default lane run
    only in the full-suite lane."""
    return [
        n if n in default else pytest.param(n, marks=full_suite_only)
        for n in names
    ]


@pytest.mark.parametrize("name", _lane(_ORACLE_ALL, _ORACLE_DEFAULT))
def test_oracle_parity(spark, name):
    res = compare_to_oracle(spark, name, SF_CORRECTNESS)
    assert res.spark_rows > 0, f"{name}: empty result"
    assert res.ok, f"{name}: {res.notes} (rows spark={res.spark_rows} oracle={res.oracle_rows}, max|Δ|={res.max_abs_delta})"


@pytest.mark.parametrize("name", _lane(_ROWS_ONLY_ALL, _ROWS_ONLY_DEFAULT))
def test_rows_only_queries(spark, name):
    """Engine-native queries (no SQL oracle): non-empty + stable schema."""
    df = QUERIES[name](spark, SF_CORRECTNESS)
    assert df.count() > 0, f"{name}: empty result"
    assert len(df.columns) >= 2
