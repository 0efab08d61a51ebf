"""Driver-contract guards: the registry must stay internally consistent
(every query has an oracle, names stay aligned, entry() works)."""

from __future__ import annotations

import os
from pathlib import Path

import pytest

from gtfs_realtime_etl_spark.plans.queries import ORACLE_SQL, QUERIES


#: Queries DECLARED rows-only (no cross-engine hash oracle possible by
#: construction).  Empty since round 7: approx_distinct_profile now
#: emits exact COUNT(DISTINCT) twins plus boolean HLL-error-bound
#: columns, so even the sketch rides a hashable oracle.  Anything
#: missing an oracle is a registry bug.
ROWS_ONLY_BY_DESIGN: set[str] = set()


def test_driver_gate_rotation_is_structural():
    """The external driver verifies only a 50-entry prefix of the
    registry per round, so in the order it reads
    (``__spark_entry__.queries()``) no entry whose latest committed
    CORRECTNESS row is green precedes a red or never-checked one, and
    the greens follow oldest green round first."""
    import __spark_entry__ as ep

    rows = ep._latest_rows()
    keys = list(ep.queries())
    green = [k for k in keys if rows.get(k, (0, False))[1]]
    assert keys[len(keys) - len(green) :] == green, (
        "a red or never-checked entry sits behind a driver-green one; "
        "the driver's budget would re-check verified entries first"
    )
    rounds = [rows[k][0] for k in green]
    assert rounds == sorted(rounds), "greens are not oldest round first"
    assert list(ep.oracle_sql()) == keys, (
        "oracle_sql() order diverged from queries()"
    )


def test_driver_gate_order_rule_on_synthetic_rows():
    """The ordering rule, whatever the committed artifacts hold: red and
    never-checked entries lead in declaration order, then greens by the
    round of their latest row, oldest first, declaration order breaking
    ties."""
    import __spark_entry__ as ep

    rows = {  # name -> (round of the latest row, ok)
        "green_r5": (5, True),
        "red": (3, False),
        "green_r2": (2, True),
        "tie_b": (4, True),
        "tie_a": (4, True),
    }
    declared = ["green_r5", "tie_b", "red", "green_r2", "never", "tie_a"]
    assert ep._gate_order(declared, rows) == [
        "red",
        "never",
        "green_r2",
        "tie_b",
        "tie_a",
        "green_r5",
    ]


def test_registry_import_skips_driver_ordering():
    """The driver's scheduling policy lives only in ``__spark_entry__``:
    no file of the package reads or names the driver's CORRECTNESS
    artifacts or a green manifest, so the registry import orders
    nothing."""
    pkg = Path(__file__).resolve().parent.parent / "gtfs_realtime_etl_spark"
    offenders = [
        str(path.relative_to(pkg))
        for path in sorted(pkg.rglob("*"))
        if path.is_file()
        and path.suffix != ".pyc"
        and any(
            word in path.read_text(errors="replace")
            for word in ("CORRECTNESS_r", "GREEN_MANIFEST")
        )
    ]
    assert offenders == [], offenders


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
    n = minhash_lsh_candidates(docs).count()
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
    n = simhash_dedup(docs, hamming_threshold=3).count()
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
