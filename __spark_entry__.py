"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

``queries()`` and ``oracle_sql()`` return the registry in the driver's
verification order, least-trusted entries first.  That order is applied
here, from ``plans/driver_order.py``; ``plans.queries`` itself keeps
declaration order, so importing the registry reads no CORRECTNESS
artifacts.

Implementation lives in ``gtfs_realtime_etl_spark`` (see SURVEY.md §2
for the operator inventory each query demonstrates).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from gtfs_realtime_etl_spark.plans.queries import flagship

    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from gtfs_realtime_etl_spark.plans.driver_order import driver_ordered

    return dict(driver_ordered()[0])


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL for each query (same column names)."""
    from gtfs_realtime_etl_spark.plans.driver_order import driver_ordered

    return dict(driver_ordered()[1])
