"""Driver-contract guards: the registry must stay internally consistent
(every query has an oracle, names stay aligned, entry() works)."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from gtfs_realtime_etl_spark.plans.queries import ORACLE_SQL, QUERIES


#: Queries DECLARED rows-only (no cross-engine hash oracle possible by
#: construction).  Empty since round 7: approx_distinct_profile now
#: emits exact COUNT(DISTINCT) twins plus boolean HLL-error-bound
#: columns, so even the sketch rides a hashable oracle.  Anything
#: missing an oracle is a registry bug.
ROWS_ONLY_BY_DESIGN: set[str] = set()


def test_driver_gate_rotation_is_structural():
    """The external driver verifies only a ~50-entry prefix of the registry
    per round, so entries without a trustworthy green driver row (never
    verified, latest-red, or REWRITTEN since their green row per the
    committed GREEN_MANIFEST hash) MUST lead the dict order; behind them,
    rows-only greens (hash_match null — value-unverified) precede fully
    verified greens, each block stalest-first.  Rounds 6 and 7 both lost
    budget to hand-maintained green lists going stale; the order is
    derived from the committed CORRECTNESS_r*.json + the live green manifest (GREEN_MANIFEST_V2.json since round 11)
    artifacts, and this test fails if any green entry ever precedes a
    needs-verification one in the order the driver reads
    (``__spark_entry__.queries()``)."""
    import __spark_entry__ as ep
    from gtfs_realtime_etl_spark.plans.driver_order import _load_driver_green

    # With no entry green at its current source hash the live order has
    # no green block to check; the rule itself is also tested on
    # synthetic rows below.
    green = _load_driver_green()
    keys = list(ep.queries())
    seen_green = False
    for k in keys:
        if k in green:
            seen_green = True
        else:
            assert not seen_green, (
                f"needs-verification entry {k!r} sits BEHIND a driver-green "
                "entry — the rotation went stale and the driver budget will "
                "be re-burned on already-verified queries"
            )
    # Green block order: value-unverified (rows-only) first, then fully
    # verified; stalest-first within each.
    order = [(green[k][1], green[k][0]) for k in keys if k in green]
    assert order == sorted(order), (
        "driver-green entries are not (rows-only-first, stalest-first); "
        "leftover budget should re-verify the weakest/oldest greens"
    )
    assert list(ep.oracle_sql()) == keys, (
        "oracle_sql() order diverged from queries()"
    )


def test_driver_gate_order_rule_on_synthetic_rows(monkeypatch):
    """The ordering rule, whatever the committed artifacts hold: never
    checked and latest-red entries lead in declaration order, then
    changed-since-green entries stalest-first, then rows-only greens,
    then fully verified greens, each stalest-first."""
    from gtfs_realtime_etl_spark.plans import driver_order

    rows = {  # name -> (round, ok, value-verified)
        "red": (3, False, False),
        "changed_r5": (5, True, True),
        "changed_r2": (2, True, True),
        "rows_only_r4": (4, True, False),
        "rows_only_r2": (2, True, False),
        "full_r1": (1, True, True),
        "full_r6": (6, True, True),
    }
    green = {  # name -> (round, value-verified)
        "rows_only_r4": (4, False),
        "rows_only_r2": (2, False),
        "full_r1": (1, True),
        "full_r6": (6, True),
    }
    monkeypatch.setattr(driver_order, "_driver_rows", lambda: rows)
    declared = [
        "full_r6",
        "full_r1",
        "rows_only_r4",
        "rows_only_r2",
        "changed_r5",
        "changed_r2",
        "red",
        "never",
    ]
    order = driver_order._driver_gate_order(dict.fromkeys(declared), green)
    assert list(order) == [
        "red",
        "never",
        "changed_r2",
        "changed_r5",
        "rows_only_r2",
        "rows_only_r4",
        "full_r1",
        "full_r6",
    ]


def test_green_manifest_current_for_green_entries():
    """Every entry the rotation treats as green must carry a manifest
    hash equal to its CURRENT source hash — i.e. the committed
    the live green manifest was regenerated after the last code change to
    any green entry (scripts/update_green_manifest.py)."""
    import __spark_entry__ as ep
    from gtfs_realtime_etl_spark.plans.driver_order import (
        _entry_src_hash,
        _load_driver_green,
        _load_green_manifest,
    )

    green = _load_driver_green()
    manifest = _load_green_manifest()
    if not manifest:
        pytest.skip("no green manifest (GREEN_MANIFEST_V2.json) to check against")
    queries, oracles = ep.queries(), ep.oracle_sql()
    stale = [
        k
        for k in green
        if manifest.get(k) != _entry_src_hash(queries[k], oracles.get(k))
    ]
    assert stale == [], (
        f"green entries with stale manifest hashes: {stale[:10]} — "
        "_load_driver_green should already have excluded these"
    )


def test_registry_import_skips_driver_ordering():
    """Importing the registry must not pay for the driver-gate order
    (closure hashing of every entry plus the CORRECTNESS artifact
    reads): only ``__spark_entry__`` applies it, via
    ``plans/driver_order.py``."""
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys, gtfs_realtime_etl_spark.plans.queries; "
            "print(sorted(m for m in sys.modules if m.endswith(("
            "'plans.entry_hash_v2', 'plans.driver_order'))))",
        ],
        capture_output=True,
        text=True,
        check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert out.stdout.strip() == "[]", out.stdout


def test_every_query_has_an_oracle():
    missing = set(QUERIES) - set(ORACLE_SQL)
    assert missing == ROWS_ONLY_BY_DESIGN, (
        "queries() without an oracle beyond the declared rows-only set: "
        f"{sorted(missing - ROWS_ONLY_BY_DESIGN)}; "
        f"stale rows-only entries: {sorted(ROWS_ONLY_BY_DESIGN - missing)}"
    )
    assert not set(ORACLE_SQL) - set(QUERIES), (
        f"oracles without queries: {sorted(set(ORACLE_SQL) - set(QUERIES))}"
    )


def test_entry_module_exposes_contract(spark):
    import __spark_entry__ as ep

    # Same name -> callable / SQL pairs; only the order differs.
    assert ep.queries() == QUERIES
    assert ep.oracle_sql() == ORACLE_SQL
    df = ep.entry(spark)
    assert df.columns  # stable schema, no collect here (driver's job)


@pytest.mark.scale_smoke
@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SCALE_SMOKE"),
    reason="opt-in: SPARK_GRAFT_SCALE_SMOKE=1 runs the 20x corpus smoke",
)
def test_minhash_scale_smoke(spark):
    """Opt-in scale probe: a 20x-replicated corpus (100k docs, heavy
    duplicate clusters) must keep LSH buckets capped and finish without
    skew blowups — the local stand-in for the 100 TB posture."""
    import time

    from pyspark.sql import functions as F

    from gtfs_realtime_etl_spark.operators.dedup import minhash_lsh_candidates

    docs = (
        spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        .crossJoin(spark.range(20).select(F.col("id").alias("rep")))
        .select(
            (F.col("doc_id") * 100 + F.col("rep")).alias("doc_id"),
            "text",
        )
    )
    t0 = time.time()
    n = minhash_lsh_candidates(docs, max_bucket=1000).count()
    dt = time.time() - t0
    assert n > 0
    # 20x data with giant planted clusters: capped buckets keep the pair
    # explosion bounded — anything quadratic would blow far past this
    assert dt < 300, f"scale smoke took {dt:.0f}s"


@pytest.mark.scale_smoke
@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SCALE_SMOKE"),
    reason="opt-in: SPARK_GRAFT_SCALE_SMOKE=1 runs the 20x corpus smoke",
)
def test_simhash_scale_smoke(spark):
    """Opt-in scale probe for the banded-segment SimHash path: 20x
    corpus (100k docs) with planted heavy duplicate groups — the bucket
    cap must bound the pair explosion (round-1's prefix-bucket version
    blew up quadratically on exactly this shape)."""
    import time

    from pyspark.sql import functions as F

    from gtfs_realtime_etl_spark.operators.dedup import simhash_dedup

    docs = (
        spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        .crossJoin(spark.range(20).select(F.col("id").alias("rep")))
        .select((F.col("doc_id") * 100 + F.col("rep")).alias("doc_id"), "text")
    )
    t0 = time.time()
    n = simhash_dedup(docs, hamming_threshold=3, max_bucket=1000).count()
    dt = time.time() - t0
    assert n >= 0
    assert dt < 300, f"simhash scale smoke took {dt:.0f}s"


@pytest.mark.scale_smoke
@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SCALE_SMOKE"),
    reason="opt-in: SPARK_GRAFT_SCALE_SMOKE=1 runs the 20x embeddings smoke",
)
def test_embedding_neardup_scale_smoke(spark, tmp_path):
    """Opt-in scale probe for the capped pair-join profile: a
    20x-replicated embeddings table (40k vectors, same 10 labels → 4k
    vectors per label) must stay block-bounded.  Uncapped, each label
    block would be ~8M pairs (80M total 64-dim cosine folds); with
    NEARDUP_MAX_BLOCK=64 the pair join tops out at 2,016 pairs/label
    regardless of block size — that bound, not wall-clock luck, is what
    this asserts via n_pairs and overflow accounting."""
    import time

    from pyspark.sql import functions as F

    from gtfs_realtime_etl_spark.plans.base import (
        NEARDUP_MAX_BLOCK,
        q_embedding_neardup,
    )

    src = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    big = src.crossJoin(spark.range(20).select(F.col("id").alias("rep"))).select(
        (F.col("vec_id") * 100 + F.col("rep")).alias("vec_id"),
        "label",
        "embedding",
    )
    sf_dir = str(tmp_path / "sf_big")
    big.write.parquet(f"{sf_dir}/embeddings.parquet")
    t0 = time.time()
    rows = q_embedding_neardup(spark, sf_dir).collect()
    dt = time.time() - t0
    max_pairs = NEARDUP_MAX_BLOCK * (NEARDUP_MAX_BLOCK - 1) // 2
    assert rows and all(r.n_pairs <= max_pairs for r in rows)
    assert all(r.n_overflow > 0 for r in rows)  # cap engaged on every label
    assert dt < 120, f"embedding_neardup scale smoke took {dt:.0f}s"


@pytest.mark.scale_smoke
@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SCALE_SMOKE"),
    reason="opt-in: SPARK_GRAFT_SCALE_SMOKE=1 runs the large-graph smoke",
)
def test_pagerank_scale_smoke(spark):
    """Opt-in scale probe for the power iteration: 2M-edge synthetic
    graph (200k nodes, every node a source so dangling='none' holds,
    plus heavy hub skew via a quadratic residue map).  Ten rounds must
    finish in bounded time and conserve rank mass — the probe that
    catches any per-round driver synchronization or lineage blowup."""
    import time

    from pyspark.sql import functions as F

    from gtfs_realtime_etl_spark.operators.pagerank import pagerank

    n_nodes = 200_000
    edges = spark.range(2_000_000).select(
        (F.col("id") % n_nodes).alias("s"),
        ((F.col("id") * F.col("id") + 7 * F.col("id") + 13) % n_nodes).alias("d"),
    )
    t0 = time.time()
    ranks = pagerank(edges, iterations=10, dangling="none")
    total = ranks.agg(F.sum("rank")).collect()[0][0]
    dt = time.time() - t0
    assert abs(total - 1.0) < 1e-6, total
    assert dt < 300, f"pagerank scale smoke took {dt:.0f}s"
