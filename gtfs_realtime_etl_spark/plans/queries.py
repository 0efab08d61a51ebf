"""Driver-facing query registry over the TPC-H-ish testdata.

``QUERIES`` maps each entry's name to its Spark DataFrame builder and
``ORACLE_SQL`` to the DuckDB SQL it must match (see ``plans/base.py``
for the cross-engine determinism rules).  Both are merged from the
banks below in this order; each bank's module docstring describes its
queries.  The dicts keep declaration order; ``__spark_entry__``
applies the driver's verification order.
"""

from __future__ import annotations

import importlib

from pyspark.sql import DataFrame, SparkSession

from gtfs_realtime_etl_spark.plans.base import QueryFn, q_flagship_punctuality

_BANKS = tuple(
    importlib.import_module(f"gtfs_realtime_etl_spark.plans.{name}")
    for name in (
        "base",
        "analytics",
        "analytics2",
        "classics",
        "graph",
        "analytics3",
        "analytics4",
        "classics2",
        "analytics5",
        "analytics6",
        "analytics7",
        "analytics8",
        "analytics9",
        "analytics10",
        "analytics11",
        "analytics12",
        "analytics13",
        "analytics14",
        "analytics15",
        "analytics16",
        "analytics17",
        "analytics18",
        "analytics19",
        "analytics20",
        "analytics21",
        "analytics22",
        "analytics23",
    )
)

QUERIES: dict[str, QueryFn] = {k: v for b in _BANKS for k, v in b.QUERIES.items()}
ORACLE_SQL: dict[str, str] = {k: v for b in _BANKS for k, v in b.ORACLE_SQL.items()}


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite flagship query (entry-point smoke check)."""
    return q_flagship_punctuality(spark, sf_dir)
