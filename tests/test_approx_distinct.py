"""approx_distinct_profile (round-7 form): the HLL estimates ride as
deterministic error-bound booleans next to exact COUNT(DISTINCT) twins
that the DuckDB oracle hash-matches.  This test pins the full contract
from the Spark side: exact columns equal an independent exact
aggregation, and every bound boolean is TRUE (the sketch really is
within the declared 2.5% relative error)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.plans.queries import QUERIES
from gtfs_realtime_etl_spark.sources.testdata import load_testdata
from tests.conftest import SF_CORRECTNESS


def test_exact_twins_and_bound_booleans(spark):
    got = {
        r["event_type"]: r
        for r in QUERIES["approx_distinct_profile"](
            spark, SF_CORRECTNESS
        ).collect()
    }
    events = load_testdata(spark, SF_CORRECTNESS, "events")[0]
    exact = {
        r["event_type"]: (r["u"], r["v"])
        for r in events.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("u"),
            F.count_distinct("value").alias("v"),
        )
        .collect()
    }
    assert set(got) == set(exact) and got
    for et, row in got.items():
        eu, ev = exact[et]
        assert row["exact_users"] == eu, et
        assert row["exact_values"] == ev, et
        assert row["approx_users_ok"] is True, et
        assert row["approx_values_ok"] is True, et
