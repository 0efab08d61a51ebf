"""Incremental flagship (bank 26): the cross-JOB contract behind
``flagship_incremental`` — per-day partial states computed as separate
jobs over a date-partitioned lake must merge to the bit-identical
result of the one-shot query, and the day predicate must prune
partitions on the lake read (the production nightly shape: fold only
the new day, never rescan history)."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.plans.analytics22 import (
    FLAGSHIP_RANGE_DAYS,
    flagship_day_partials,
    merge_flagship_partials,
    q_flagship_incremental,
)
from gtfs_realtime_etl_spark.sources.testdata import load_testdata
from tests.conftest import SF_SMOKE

_NS_PER_DAY = 86_400_000_000_000


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_per_day_jobs_merge_to_one_shot_result(spark, tmp_path):
    events, customer, nation = load_testdata(
        spark, SF_SMOKE, "events", "customer", "nation"
    )

    max_day = events.agg(
        F.expr(f"MAX(CAST(ts div {_NS_PER_DAY} AS INT))")
    ).collect()[0][0]
    cutoff = max_day - (FLAGSHIP_RANGE_DAYS - 1)

    # Land the fact table date-partitioned (the lake layout the nightly
    # job reads), keeping ts so each slice recomputes its own day.
    lake = str(tmp_path / "events_by_day")
    events.withColumn(
        "pday", F.expr(f"CAST(ts div {_NS_PER_DAY} AS INT)")
    ).write.partitionBy("pday").parquet(lake)

    # One SEPARATE job per in-range day: read only that partition,
    # fold it into a partial state, collect.  This is the
    # fold-as-it-lands path — day N's job never sees day N-1's rows.
    partial_frames = []
    for day in range(cutoff, max_day + 1):
        day_slice = spark.read.parquet(f"{lake}/pday={day}")
        partial_frames.append(
            flagship_day_partials(day_slice, customer, nation)
        )
    merged = merge_flagship_partials(
        reduce(lambda a, b: a.unionAll(b), partial_frames)
    )

    one_shot = q_flagship_incremental(spark, SF_SMOKE)
    got, exp = _rows(merged), _rows(one_shot)
    assert len(exp) > 0, "one-shot produced a trivial result"
    # BIGINT partials are exact and the finalize op order is pinned, so
    # the doubles must match bit-for-bit, not approximately.
    assert got == exp


def test_day_predicate_prunes_partitions(spark, tmp_path):
    (events,) = load_testdata(spark, SF_SMOKE, "events")
    lake = str(tmp_path / "events_by_day")
    events.withColumn(
        "pday", F.expr(f"CAST(ts div {_NS_PER_DAY} AS INT)")
    ).write.partitionBy("pday").parquet(lake)

    max_day = events.agg(
        F.expr(f"MAX(CAST(ts div {_NS_PER_DAY} AS INT))")
    ).collect()[0][0]
    cutoff = max_day - (FLAGSHIP_RANGE_DAYS - 1)

    pruned = spark.read.parquet(lake).filter(F.col("pday") >= cutoff)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "pday" in plan
    # The pruned scan must READ strictly fewer files than the full one
    # (input_file_name() reflects the files actually opened at runtime;
    # DataFrame.inputFiles() is pre-pruning and would not notice).
    def files_read(df):
        return {
            r[0]
            for r in df.select(F.input_file_name()).distinct().collect()
        }

    all_files = files_read(spark.read.parquet(lake))
    pruned_files = files_read(pruned)
    assert pruned_files and pruned_files < all_files
    in_range = {
        f for f in all_files
        if any(f"pday={d}/" in f for d in range(cutoff, max_day + 1))
    }
    assert pruned_files == in_range


def test_merge_is_slicing_invariant(spark):
    """Merging (day-sliced partials) == merging (single fold of the
    whole range): the monoid property the incremental contract rests
    on, checked in-plan without the lake detour."""
    events, customer, nation = load_testdata(
        spark, SF_SMOKE, "events", "customer", "nation"
    )
    max_day = events.agg(
        F.expr(f"MAX(CAST(ts div {_NS_PER_DAY} AS INT))")
    ).collect()[0][0]
    cutoff = max_day - (FLAGSHIP_RANGE_DAYS - 1)
    recent = events.filter(
        F.expr(f"CAST(ts div {_NS_PER_DAY} AS INT) >= {cutoff}")
    )

    whole = merge_flagship_partials(
        flagship_day_partials(recent, customer, nation)
    )
    odd = recent.filter(F.expr(f"(ts div {_NS_PER_DAY}) % 2 = 1"))
    even = recent.filter(F.expr(f"(ts div {_NS_PER_DAY}) % 2 = 0"))
    sliced = merge_flagship_partials(
        flagship_day_partials(odd, customer, nation).unionAll(
            flagship_day_partials(even, customer, nation)
        )
    )
    assert _rows(sliced) == _rows(whole)


def test_full_range_incremental_equals_flagship_anchor(spark):
    """With the range widened to cover every day, the incremental
    rollup must reproduce the flagship anchor bit-for-bit: the rn=1
    dedup grain is identical ((user, day)), diff is an int so the
    BIGINT partial moments equal flagship's decimal(18,2) sums
    exactly, and the finalize op order is the same."""
    from gtfs_realtime_etl_spark.plans.base import q_flagship_punctuality

    events, customer, nation = load_testdata(
        spark, SF_SMOKE, "events", "customer", "nation"
    )
    full = merge_flagship_partials(
        flagship_day_partials(events, customer, nation)
    ).drop("n_days")

    anchor = q_flagship_punctuality(spark, SF_SMOKE)
    assert _rows(full) == _rows(anchor)
