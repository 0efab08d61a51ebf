"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The driver checks only a prefix of the registry per round (50 entries
in each of ``CORRECTNESS_r05``–``r13``), so ``queries()`` and
``oracle_sql()`` return it in a rotating order, read from the latest
committed row of each entry: entries whose latest row is red, or that
have no row, come first in declaration order; entries whose latest row
is green follow, oldest green round first, declaration order breaking
ties.  ``plans.queries`` itself keeps declaration order and reads no
artifacts; oracle parity (``tests/test_oracle_parity.py``) stays the
correctness gate, this order only decides what the driver re-checks
first.

Implementation lives in ``gtfs_realtime_etl_spark`` (see SURVEY.md §2
for the operator inventory each query demonstrates).
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from gtfs_realtime_etl_spark.plans.queries import flagship

    return flagship(spark, "/root/testdata/sf0.001")


def _latest_rows() -> dict[str, tuple[int, bool]]:
    """Latest committed driver row per entry: name -> (round, ok).

    A row is ok when the driver recorded no error, matching row counts,
    and neither a schema nor a value-hash mismatch.  Unreadable and
    non-dict files and rows are skipped."""
    latest: dict[str, tuple[int, bool]] = {}
    for fname in sorted(os.listdir(_REPO_ROOT)):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(os.path.join(_REPO_ROOT, fname)) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            ok = (
                row.get("err") is None
                and bool(row.get("rows_match"))
                and row.get("schema_match") is not False
                and row.get("hash_match") is not False
            )
            if name not in latest or rnd >= latest[name][0]:
                latest[name] = (rnd, ok)
    return latest


def _gate_order(
    names: Iterable[str], rows: dict[str, tuple[int, bool]]
) -> list[str]:
    """``names`` in the driver's order: red and never-checked entries
    first, then greens by the round of their latest row, oldest first;
    the stable sort keeps declaration order within each key."""

    def key(name: str) -> tuple[bool, int]:
        rnd, ok = rows.get(name, (0, False))
        return (ok, rnd if ok else 0)

    return sorted(names, key=key)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from gtfs_realtime_etl_spark.plans.queries import QUERIES

    return {k: QUERIES[k] for k in _gate_order(QUERIES, _latest_rows())}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL for each query (same column names)."""
    from gtfs_realtime_etl_spark.plans.queries import ORACLE_SQL

    return {k: ORACLE_SQL[k] for k in _gate_order(ORACLE_SQL, _latest_rows())}
