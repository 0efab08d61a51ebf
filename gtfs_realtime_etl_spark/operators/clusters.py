"""Duplicate-cluster resolution: verified pairs → components → survivors.

The dedup operators (operators/dedup.py) emit verified near-duplicate
PAIRS; a pipeline user needs the transitive clusters and a survivors
list.  This module closes that gap:

- :func:`connected_components` — size-gated hybrid.  The pair graph is
  the OUTPUT of dedup (similarity-thresholded, bucket-capped), orders
  of magnitude smaller than the corpus; when its edge count fits the
  driver (:data:`DRIVER_MAX_EDGES`) the components run as an exact
  union-find on collected edges — one collect, zero iterative jobs.
  Above the gate, iterative min-label propagation: each iteration is
  one join + one aggregation, both shuffling on the node id; lineage is
  truncated per iteration with an eager localCheckpoint so plans stay
  O(1).  The iteration count is bounded by the component diameter —
  near-dup clusters are dense (diameter a handful), so convergence is
  fast; the label-sum convergence probe costs one tiny aggregate per
  round.  (The asymptotically tighter alternating large-star/small-star
  scheme [Kiveris et al., "Connected Components in MapReduce"] drops in
  here if 100 TB graphs with long chains ever materialize.)  Both paths
  produce identical (node, min-member-id) labels; equivalence is
  pinned by tests forcing each path (they lower :data:`DRIVER_MAX_EDGES`).
- :func:`resolve_duplicates` — keep one survivor per cluster (the
  conventional min-id rule): an anti-join of the corpus against the
  non-survivor node set.

Cluster ids are the component's minimum node id — deterministic, so the
whole resolution is oracle-checkable (DuckDB recursive CTE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: Edge-count gate for the driver-side exact path.  5M undirected edges
#: collected as TWO Arrow int64 arrays (``toArrow``, no per-row Python
#: objects) ≈ 80 MB on the driver — broadcast-class, far below any
#: realistic driver heap; above it, the distributed propagation runs.
DRIVER_MAX_EDGES = 5_000_000
#: Propagation rounds before the distributed path gives up (a component
#: whose min-id eccentricity exceeds it would get wrong labels).
MAX_ITER = 50


def connected_components(pairs: DataFrame) -> DataFrame:
    """(node, cluster_id) for every node appearing in ``pairs``
    ``(id_a, id_b)``; cluster_id is the minimum node id reachable
    through the pair graph."""
    # Materialize the edge set ONCE: every iteration joins against it,
    # and without this the full upstream pair pipeline (e.g. the MinHash
    # kernel + LSH + verification) would re-execute per round.
    edges = (
        pairs.select(F.col("id_a").alias("s"), F.col("id_b").alias("d"))
        .union(pairs.select(F.col("id_b").alias("s"), F.col("id_a").alias("d")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if edges.count() <= DRIVER_MAX_EDGES:
        return _driver_components(edges)
    labels = (
        edges.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    prev_sum = None
    converged = False
    for _ in range(MAX_ITER):
        prop = edges.join(labels, edges["d"] == labels["node"]).select(
            F.col("s").alias("node"), "label"
        )
        labels = (
            labels.union(prop)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        # labels only ever decrease; a stable sum means a fixed point.
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # The min label travels one hop per round, so a component whose
        # min-id eccentricity exceeds MAX_ITER would get silently WRONG
        # labels (e.g. a 100-link drift chain of near-dups).  Fail loud.
        raise RuntimeError(
            f"connected_components did not converge within MAX_ITER={MAX_ITER} "
            "rounds — a component's diameter exceeds the iteration budget"
        )
    return labels.select("node", F.col("label").alias("cluster_id"))


def _driver_components(edges: DataFrame) -> DataFrame:
    """Exact union-find on the collected edge set (the ≤ gate path).
    cluster_id = min member id, identical to the propagation fixpoint.

    Edges move driver-side as Arrow columns (``toArrow`` → two flat
    int64 buffers), NOT ``collect()``'s per-row Python Row objects —
    at the 5M-edge gate that is the difference between ~80 MB and
    hundreds of MB of object overhead; labels go back the same way."""
    import pandas as pd

    node_type = edges.schema["s"].dataType
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while x != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    tbl = edges.toArrow()
    src = tbl.column("s").to_pylist()
    dst = tbl.column("d").to_pylist()
    for a, b in zip(src, dst):
        ra, rb = find(a), find(b)
        if ra != rb:
            # union-by-min: every root is its component's minimum id
            parent[max(ra, rb)] = min(ra, rb)

    nodes = sorted(set(src) | set(dst))
    labels = pd.DataFrame({"node": nodes, "cluster_id": [find(n) for n in nodes]})
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [StructField("node", node_type), StructField("cluster_id", node_type)]
    )
    return edges.sparkSession.createDataFrame(labels, schema)


def resolve_duplicates(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Drop every non-survivor (min-id survives per cluster): the corpus
    anti-joined on ``doc_id`` against nodes whose component label
    differs from their own id.  Untouched docs (no near-dup pair) pass
    through."""
    comp = connected_components(pairs)
    losers = comp.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("doc_id")
    )
    return docs.join(losers, "doc_id", "left_anti")
