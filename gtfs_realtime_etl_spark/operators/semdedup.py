"""SemDeDup-style semantic deduplication over an embedding column.

Relational form of the SemDeDup recipe (Abbas et al. 2023, "SemDeDup:
Data-efficient learning at web-scale through semantic deduplication"):

1. coarse-cluster the corpus with a small centroid table (here the
   decimal-stabilized per-label centroids of
   ``operators/similarity.py::centroids_from_labels`` — any k-means
   table with the same (cell_id, centroid) shape drops in);
2. assign every vector to its nearest centroid as a PURE PROJECTION
   (``similarity._assign_cells_rows`` — no shuffle; the centroid
   table is broadcast-class by definition);
3. within each cell only, compute pairwise cosine similarity —
   the cell partitioning is what makes this subquadratic: pairs are
   O(sum cell_size^2), never O(corpus^2);
4. drop every vector that has a LOWER-id neighbor above the
   similarity threshold in its cell (deterministic min-id-wins
   survivor rule — the paper keeps a random/centroid-far member;
   min-id is the engine-replayable equivalent).

Thresholding happens on the round-to-6-digits cosine so the keep/drop
decision is identical on any engine that reproduces the documented
left-fold dot product (see plans/base.py::FOLD_SUM).

Scale shape: norms are hoisted to attributes before the pair join (one
fold per vector, not three per pair), the join key is cell_id with an
``a_id < b_id`` residual, and parallelism is pinned per cell against
AQE byte-based coalescing — the same tuning proven on
``embedding_neardup``.  At 100 TB the centroid count grows so that
cell sizes stay bounded (the paper uses ~0.1% of corpus size as k).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.functions.vector import dot, l2_norm
from gtfs_realtime_etl_spark.operators.similarity import (
    ID_COL,
    VEC_COL,
    _assign_cells_rows,
)

#: Shuffle partitions of the within-cell pair join, pinned per cell
#: against AQE byte-based coalescing.
PAIR_PARTITIONS = 32


def _cell_pairs(assigned: DataFrame) -> DataFrame:
    """Within-cell (a_id < b_id) pairs with round-to-6-digits cosine."""
    emb = (
        assigned.select(
            F.col(ID_COL).alias("vid"),
            "cell_id",
            F.col(VEC_COL).cast("array<double>").alias("vec"),
        )
        .withColumn("norm", l2_norm(F.col("vec")))
        .repartition(PAIR_PARTITIONS, "cell_id")
    )
    a, b = emb.alias("a"), emb.alias("b")
    denom = F.col("a.norm") * F.col("b.norm")
    # Engine-exact round-to-6 (mult-form; tests/test_engine_round.py).
    cos = (
        F.round(
            F.when(
                denom > 0, dot(F.col("a.vec"), F.col("b.vec")) / denom
            ).otherwise(F.lit(0.0))
            * F.lit(1e6),
            0,
        )
        / F.lit(1e6)
    )
    return a.join(
        b,
        (F.col("a.cell_id") == F.col("b.cell_id"))
        & (F.col("a.vid") < F.col("b.vid")),
    ).select(
        F.col("a.cell_id").alias("cell_id"),
        F.col("a.vid").alias("a_id"),
        F.col("b.vid").alias("b_id"),
        cos.alias("cosine"),
    )


def _drops_from_assigned(assigned: DataFrame, threshold: float) -> DataFrame:
    pairs = _cell_pairs(assigned)
    return (
        pairs.where(F.col("cosine") >= F.lit(threshold))
        .select("cell_id", F.col("b_id").alias(ID_COL))
        .distinct()
    )


def semdedup_profile(
    embeddings: DataFrame,
    centroids: DataFrame | list,
    threshold: float,
) -> DataFrame:
    """Per-cell dedup report: total vectors, survivors, drops, and the
    smallest surviving id.  Collects the centroid table ONCE (callers
    holding pre-collected rows pass the list and skip even that) and
    materializes the assignment with an eager localCheckpoint: the
    final plan references it FOUR times (both pair sides, totals,
    survivors), and without the checkpoint each branch re-runs the
    argmin projection over the corpus.  One vector + ids per row —
    input-sized, not pair-sized; the checkpoint truncates lineage, so
    losing its blocks fails the query instead of recomputing them."""
    if isinstance(centroids, list):
        cents = sorted(centroids, key=lambda r: r["cell_id"])
    else:
        cents = sorted(centroids.collect(), key=lambda r: r["cell_id"])
    assigned = _assign_cells_rows(embeddings, cents, VEC_COL).localCheckpoint(
        eager=True
    )
    drops = _drops_from_assigned(assigned, threshold).select(ID_COL)
    slim = assigned.select(ID_COL, "cell_id")
    survivors = slim.join(drops, ID_COL, "left_anti")
    totals = slim.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n_vecs"))
    kept = survivors.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min(ID_COL).alias("min_kept_id"),
    )
    return totals.join(kept, "cell_id", "left").select(
        "cell_id",
        "n_vecs",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        (F.col("n_vecs") - F.coalesce("n_kept", F.lit(0))).alias("n_dropped"),
        "min_kept_id",
    )
