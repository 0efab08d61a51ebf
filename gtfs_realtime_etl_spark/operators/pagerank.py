"""Distributed PageRank over an edge DataFrame.

The second iterative graph operator next to
``operators/clusters.py::connected_components`` (driver prompt: custom
iterative algorithms are engine territory, with the driver gate's
weaker rows-only check).  Relational power iteration:

    rank_{t+1}(v) = (1-d)/N + d * ( sum_{u->v} rank_t(u)/deg(u)
                                    + dangling_mass_t / N )

Each round is ONE join (ranks x out-edges on the source) and ONE
aggregation (contributions by destination) — both shuffle on the same
key domain, so a production caller can pre-partition edges by ``s``
once and every round reuses that exchange.  Dangling-node mass (nodes
with no out-edges) is redistributed uniformly, keeping the ranks a
probability distribution (sums to 1), which is also the convergence
invariant the test asserts.

Lineage control: the edge list, the node list and the degree-annotated
edge table are each pinned once with an eager ``localCheckpoint``, so
the caller's edge lineage runs once, and, like the label-propagation
loop, each ``dangling="collect"`` round checkpoints the new ranks —
without the pins round t's plan embeds t joins over the caller's
lineage and Catalyst analysis goes quadratic.  Iteration count is
fixed (power iteration converges geometrically at rate ~d); a
tolerance-based stop would add a driver round-trip per round for no
asymptotic gain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    iterations: int = 15,
    damping: float = 0.85,
    dangling: str = "collect",
) -> DataFrame:
    """(node, rank) after ``iterations`` rounds; ranks sum to 1.

    ``edges`` are directed (s -> d); duplicate edges count as
    parallel edges (weight = multiplicity / out-degree).

    SIDE EFFECT: the call EAGERLY runs Spark jobs to localCheckpoint
    the edge input before returning — nodes, out-degrees, and the
    per-round join table all derive from it, and without the pin each
    would re-run the caller's (possibly expensive) edge-generation
    lineage, e.g. a k-NN candidate join.  The returned DataFrame is
    built on localCheckpoint blocks, which are NOT recoverable on
    executor loss (a preempted executor fails the computation rather
    than recomputing lineage): on preemptible clusters rerun the fit
    (it is deterministic).

    ``dangling="collect"`` (default) measures the rank mass held by
    nodes without out-edges each round (one driver action per round)
    and redistributes it uniformly.  ``dangling="none"`` asserts the
    caller's graph has NO dangling nodes (e.g. a k-NN graph, where
    every node has out-degree k, or any undirected graph) and skips
    the per-round driver round-trip — 10 iterations become 10 pure
    shuffle rounds with zero driver synchronization.  If the caller's
    guarantee is wrong the ranks silently leak mass (sum < 1): the
    convergence invariant the tests assert.
    """
    if dangling not in ("collect", "none"):
        raise ValueError(f"dangling must be 'collect' or 'none', got {dangling!r}")
    # Materialize the edge list ONCE up front (see the docstring's
    # executor-loss caveat): nodes, out-degrees, and the
    # degree-annotated edge table all derive from it.
    e = edges.select("s", "d").localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionAll(e.select(F.col("d").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))

    out_deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    # Edges with the source's degree attached — every round joins
    # against this same table.
    e_deg = e.join(out_deg, "s").localCheckpoint(eager=True)

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    for _ in range(iterations):
        contribs = (
            ranks.join(e_deg, ranks["node"] == e_deg["s"], "inner")
            .select(
                F.col("d").alias("node"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        if dangling == "collect":
            # Dangling mass: rank held by nodes with no out-edges.
            mass = (
                ranks.join(out_deg, ranks["node"] == out_deg["s"], "left_anti")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
                .collect()[0][0]
            )
        else:
            mass = 0.0
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.lit(damping)
                * (F.coalesce(F.col("inflow"), F.lit(0.0)) + F.lit(mass / n))
            ).alias("rank"),
        )
        if dangling == "collect":
            # The round is materialized anyway for the mass
            # measurement, so an eager checkpoint costs nothing extra
            # and keeps the next round's plan O(1).
            ranks = ranks.localCheckpoint(eager=True)
        # With dangling="none" the rounds CHAIN in one lazy plan: the
        # per-round join table and node list are already checkpoint
        # leaves, so round t's tree is t chained
        # (join + agg + join) blocks over flat leaves — linear, one
        # Catalyst pass at the caller's single action.  The per-round
        # LAZY localCheckpoint this replaces (round-12) was not free:
        # every call synchronously physical-planned and codegen'd its
        # subtree (~0.2-0.3 s x iterations of driver-side stall) to
        # build the checkpoint RDD, serializing exactly the per-round
        # barrier the lazy form was meant to avoid.
    return ranks
