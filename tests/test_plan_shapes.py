"""Plan-shape regression tests: the scale-critical physical-plan
properties the engine was tuned for must not silently regress.

These assert on `explain("formatted")` text — brittle against Spark
version changes by nature, so each assertion targets a property that is
load-bearing at 100 TB (exchange counts, join strategies, scan
pruning), not cosmetic plan details.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from gtfs_realtime_etl_spark.plans.queries import QUERIES
from tests.conftest import SF_CORRECTNESS


def plan_of(spark, name: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        QUERIES[name](spark, SF_CORRECTNESS).explain("formatted")
    return buf.getvalue()


def count(plan: str, pattern: str) -> int:
    return len(re.findall(pattern, plan))


def test_percentiles_single_exchange_pruned_scan(spark):
    """Rank-selection percentiles: ONE exchange shared by both sort
    orders, and the lineitem scan reads only the three needed columns."""
    p = plan_of(spark, "percentiles")
    assert count(p, r"\(\d+\) Exchange") == 1
    assert count(p, r"\(\d+\) Sort") == 2
    (read,) = [l for l in p.splitlines() if "ReadSchema" in l]
    assert set(re.findall(r"(\w+):", read.split("struct<")[1])) == {
        "l_returnflag",
        "l_quantity",
        "l_extendedprice",
    }


def test_minhash_verify_joins_are_broadcast(spark):
    """The Jaccard verify must stay a broadcast join (no sort-merge:
    the heavy hash-set arrays would be shuffled and duplicated).

    Inspects the operator every MinHash registry entry builds its pair
    set with (plans/base.py::_minhash_verified_pairs)."""
    import contextlib
    import io

    from gtfs_realtime_etl_spark.operators.dedup import minhash_lsh_dedup
    from gtfs_realtime_etl_spark.sources.testdata import load_testdata

    docs = load_testdata(spark, SF_CORRECTNESS, "documents")[0]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        minhash_lsh_dedup(docs).explain("formatted")
    p = buf.getvalue()
    assert count(p, r"SortMergeJoin") == 0
    assert count(p, r"BroadcastHashJoin") >= 2


def test_flagship_broadcasts_dimensions(spark):
    """Flagship star join: dimension tables broadcast, single fact
    shuffle path (no sort-merge join of the fact table)."""
    p = plan_of(spark, "flagship_punctuality")
    assert count(p, r"BroadcastHashJoin") >= 2
    assert count(p, r"SortMergeJoin") == 0


def test_filter_scan_pushes_predicates(spark):
    """Filters reach the parquet scan (PushedFilters non-empty)."""
    p = plan_of(spark, "filter_scan")
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert pushed and "[]" not in pushed[0]


def test_ivf_assignment_is_projection(spark):
    """IVF cell assignment is a narrow projection: no aggregation or
    join anywhere before the probe join (the corpus side has exactly
    the probe's broadcast join plus the top-k window exchange)."""
    p = plan_of(spark, "ann_ivf_topk")
    assert count(p, r"SortMergeJoin") == 0
    # one probe join (cells) + one query-vector join; assignment itself
    # contributes zero joins/aggregates on the corpus path
    assert count(p, r"BroadcastHashJoin") <= 2


@pytest.mark.parametrize("name", ["ann_lsh_topk", "ann_ivf_topk"])
def test_ann_final_rank_is_two_phase(spark, name):
    """The ANN final rank must NOT funnel the full scored set through a
    single-task window sort (the 100×-scale killer the salted two-phase
    top-k exists to prevent): between the scored candidate join and the
    final per-query rank there must be a salted aggregation — partial
    (map-side local top-k) + final around ONE exchange — so the rank
    only ever sees ≤ TOPK_SALT·k survivor rows per query."""
    p = plan_of(spark, name)
    tree = p.split("\n\n")[0]
    lines = tree.splitlines()
    win = min(i for i, l in enumerate(lines) if "Window" in l)
    join = min(i for i, l in enumerate(lines) if "BroadcastHashJoin" in l)
    aggs = [i for i, l in enumerate(lines) if "ObjectHashAggregate" in l]
    # tree prints top-down: rank above, scored join below; the two-phase
    # aggregate pair must sit between them.
    between = [i for i in aggs if win < i < join]
    assert len(between) >= 2, tree
    # exactly one exchange inside the rank pipeline (the salted shuffle)
    exchanges = [
        i for i, l in enumerate(lines) if win < i < join and " Exchange" in l
    ]
    assert len(exchanges) == 1, tree


def test_brute_force_topk_no_single_partition_sort(spark):
    """The library's per-query rank (here on the LSH scale path):
    salted two-phase rank, never a bare window over the whole scored
    corpus."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from gtfs_realtime_etl_spark.operators.similarity import lsh_bucketed_topk
    from gtfs_realtime_etl_spark.sources.testdata import load_testdata

    emb = load_testdata(spark, SF_CORRECTNESS, "embeddings")[0]
    q = emb.filter("vec_id = 0").select(
        F.lit(0).alias("query_id"), F.col("embedding").alias("qvec")
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        lsh_bucketed_topk(emb.filter("vec_id != 0"), q, k=5).explain("formatted")
    tree = buf.getvalue().split("\n\n")[0]
    lines = tree.splitlines()
    win = min(i for i, l in enumerate(lines) if "Window" in l)
    aggs = [i for i, l in enumerate(lines) if "ObjectHashAggregate" in l]
    assert sum(1 for i in aggs if i > win) >= 2, tree


@pytest.mark.parametrize(
    "name", ["dedup_exact", "agg_pricing", "monthly_revenue", "rollup_revenue"]
)
def test_aggregations_have_partial_phase(spark, name):
    """Wide aggs keep map-side partial aggregation (two HashAggregate
    phases around one exchange) — the shuffle carries group states, not
    raw rows."""
    p = plan_of(spark, name)
    assert count(p, r"\(\d+\) HashAggregate") >= 2


# ---------------------------------------------------------------------------
# Corpus/event analytics bank (plans/analytics.py)
# ---------------------------------------------------------------------------


def test_ngram_dup_spans_single_lineage(spark):
    """The gram explosion (tokenize + 4 zip_with + explode) must run
    exactly ONCE: the one-pass window design exists because a self-join
    formulation re-executes the heavy lineage per branch."""
    tree = plan_of(spark, "ngram_dup_spans").split("\n\n")[0]
    assert count(tree, r"Scan parquet") == 1, tree
    assert count(tree, r"Generate") == 1, tree  # one explode


def test_tfidf_rank_is_two_phase(spark):
    """Per-language term rank goes through the salted two-phase top-k:
    partial + final ObjectHashAggregate between the final Window and
    the doc-frequency aggregate — the Window never sees a language's
    full vocabulary."""
    p = plan_of(spark, "tfidf_top_terms")
    tree = p.split("\n\n")[0]
    lines = tree.splitlines()
    win = min(i for i, l in enumerate(lines) if "Window" in l)
    aggs = [i for i, l in enumerate(lines) if "ObjectHashAggregate" in l]
    assert len([i for i in aggs if i > win]) >= 2, tree


def test_funnel_and_edit_pairs_no_cartesian(spark):
    """The staged funnel joins and the banded Levenshtein self-join are
    hash joins on equi keys — a CartesianProduct anywhere means the
    blocking keys fell out of the plan."""
    for name in ("funnel_conversion", "edit_distance_pairs"):
        p = plan_of(spark, name)
        assert count(p, r"CartesianProduct") == 0, (name, p)
    p = plan_of(spark, "edit_distance_pairs")
    assert count(p, r"HashJoin|SortMergeJoin") >= 1, p


def test_shard_assignment_pruned_scan(spark):
    """Shard audit reads only (doc_id, n_chars) — never the text."""
    p = plan_of(spark, "shard_assignment")
    (read,) = [l for l in p.splitlines() if "ReadSchema" in l]
    assert set(re.findall(r"(\w+):", read.split("struct<")[1])) == {
        "doc_id",
        "n_chars",
    }


def test_interval_overlap_join_no_cartesian(spark):
    """The co-activity pair join must be the bucketed equi join —
    expressing the overlap predicate directly would give
    BroadcastNestedLoopJoin and die at scale."""
    p = plan_of(spark, "interval_overlap_join")
    assert count(p, r"CartesianProduct|BroadcastNestedLoopJoin") == 0, p
    assert count(p, r"HashJoin|SortMergeJoin") >= 1, p


def test_table_profile_single_scan(spark):
    """The profiler is ONE aggregation over ONE scan of orders: the
    long format comes from exploding the single result row, not from
    unioning per-column scans (which would read the table 6x)."""
    p = plan_of(spark, "table_profile")
    assert count(p, r"Location: InMemoryFileIndex") == 1, p


def test_gap_fill_no_cartesian(spark):
    """Grid-to-hourly is a keyed left join; the grid explode must not
    degrade the join to a nested loop."""
    p = plan_of(spark, "gap_fill_resample")
    assert count(p, r"CartesianProduct|BroadcastNestedLoopJoin") == 0, p


def test_classic_topk_is_take_ordered(spark):
    """The global ORDER BY + LIMIT of the TPC-H classics must plan as
    TakeOrderedAndProject (per-partition top-k + k-list merge), never a
    global sort."""
    for name in ("shipping_priority", "returned_items", "topk_orders"):
        p = plan_of(spark, name)
        assert count(p, r"TakeOrderedAndProject") >= 1, (name, p)
        # No full-width global Sort node feeding the limit.
        assert count(p, r"\n\s*\+?-? ?Sort \[") == 0 or "window" in name, (
            name,
            p,
        )


def test_semantic_dedup_no_cartesian(spark):
    """The within-cell pair join is an equi join on cell_id; the
    centroid argmin is a projection (no join at all for assignment)."""
    p = plan_of(spark, "semantic_dedup")
    assert count(p, r"CartesianProduct") == 0, p


def test_quality_resample_is_projection_plus_agg(spark):
    """The resample decision is a pure projection: no joins, and the
    only exchanges are the loader's corpus widening plus the final
    per-source aggregation."""
    p = plan_of(spark, "quality_resample")
    assert count(p, r"\(\d+\) Exchange") <= 2, p
    assert count(p, r"Join") == 0, p


def _python_nodes(plan: str) -> list[str]:
    return re.findall(r"(?:ArrowEvalPython|BatchEvalPython)\w*", plan)


@pytest.fixture(scope="module")
def gtfs_raw(spark, tmp_path_factory):
    from gtfs_realtime_etl_spark.schemas import VEHICLE_POSITIONS_RAW
    from tests.gtfs_fixtures import generate

    fx = generate(str(tmp_path_factory.mktemp("gtfs_plan")))
    return fx, spark.createDataFrame(fx.raw_positions, schema=VEHICLE_POSITIONS_RAW)


def test_enrich_positions_has_no_python(spark, gtfs_raw):
    """Ingest enrichment, WKB geometry included, is native Column ops:
    every micro-batch stays in the JVM."""
    from gtfs_realtime_etl_spark.operators.ingest import enrich_positions

    plan = enrich_positions(gtfs_raw[1])._jdf.queryExecution().executedPlan().toString()
    assert _python_nodes(plan) == [], plan


def test_flagship_fact_join_is_cheap_per_pair(spark, gtfs_raw, tmp_path):
    """The flagship's executed plan has no Python node, and its fact
    join's residual (dwithin plus the pushed band filter) does no
    time-zone field extraction: each ping's time of day is computed
    once, before the join, not once per candidate pair."""
    from gtfs_realtime_etl_spark.operators.ingest import enrich_positions
    from gtfs_realtime_etl_spark.operators.schedule_deviation import (
        schedule_deviation,
        stop_reliability,
    )
    from gtfs_realtime_etl_spark.sources.gtfs_static import load_gtfs_static
    from gtfs_realtime_etl_spark.sources.lake import (
        read_locations,
        write_locations_batch,
    )

    fx, raw = gtfs_raw
    lake = str(tmp_path / "lake")
    write_locations_batch(enrich_positions(raw), lake)
    tabs = load_gtfs_static(spark, fx.gtfs_dir)
    df = stop_reliability(
        schedule_deviation(
            read_locations(spark, lake),
            tabs["routes"], tabs["trips"], tabs["stops"], tabs["stop_times"],
        )
    )
    assert df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert _python_nodes(plan) == [], plan
    # the fact join is the one whose residual carries dwithin's SQRT
    fact_joins = [l for l in plan.splitlines() if "Join" in l and "SQRT(" in l]
    assert fact_joins, plan
    assert not [l for l in fact_joins if "hour(" in l], fact_joins
