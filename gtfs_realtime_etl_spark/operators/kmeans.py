"""Distributed k-means (Lloyd's) for the IVF coarse quantizer.

``centroids_from_labels`` (operators/similarity.py) builds the IVF cell
table from a pre-existing label column; this operator LEARNS the cells
when no label exists — the production path for an unlabeled corpus.
Output shape is identical (``cell_id int, centroid array<double>``), so
``ivf_topk`` consumes it unchanged.

Determinism contract (the whole point — an external engine can replay
the fit round for round):

- init: the ``k`` vectors with the smallest ids, cell_id in id order;
- assignment: argmin of the squared-L2 left fold (``_l2sq``), ties on
  the smaller cell_id — a PURE PROJECTION against the collected
  centroid table (no join, no shuffle; the corpus is scanned once per
  round);
- update: per-(cell, dim) decimal-accumulated mean ROUNDED to
  ``scale`` dp — quantizing each round pins the centroids to values
  every engine reproduces exactly, so cross-engine drift cannot
  accumulate across rounds;
- empty cells keep their previous centroid.

Scale shape: each round is one corpus scan + one (cell_id, dim)
aggregation (map-side partial combine; k·dim grouped rows).  The k·dim
centroid table is collected per round — broadcast-class by definition
of a coarse quantizer (same cost class as pagerank's dangling-mass
collect; ``iterations`` is small and fixed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.operators.similarity import (
    ID_COL,
    VEC_COL,
    _assign_cells_rows,
)


def _update_centroids(
    assigned: DataFrame, vec_col: str, scale: int
) -> dict[int, list[float]]:
    exploded = assigned.select(
        "cell_id", F.posexplode(F.col(vec_col).cast("array<double>"))
    ).select("cell_id", (F.col("pos") + 1).alias("dim"), F.col("col").alias("val"))
    rows = (
        exploded.groupBy("cell_id", "dim")
        .agg(
            # Engine-exact ROUND: round(x*10^s)/10^s is DuckDB's own
            # round(x, s) evaluation order, and Spark's ROUND(y, 0)
            # (BigDecimal HALF_UP) == C round(y) bit-for-bit — fuzz-
            # pinned in tests/test_engine_round.py.
            (
                F.round(
                    (
                        F.sum(F.col("val").cast("decimal(20,10)")).cast(
                            "double"
                        )
                        / F.count(F.lit(1)).cast("double")
                    )
                    * F.lit(float(10**scale)),
                    0,
                )
                / F.lit(float(10**scale))
            ).alias("cval")
        )
        .collect()
    )
    cells: dict[int, dict[int, float]] = {}
    for r in rows:
        cells.setdefault(r.cell_id, {})[r.dim] = r.cval
    return {c: [dims[d] for d in sorted(dims)] for c, dims in cells.items()}


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 8,
    iterations: int = 3,
    scale: int = 8,
) -> list:
    """Fit ``k`` centroids; returns ``[{cell_id, centroid}]`` rows
    (the collected form ``ivf_topk`` accepts directly).
    See module docstring for the determinism contract."""
    emb = embeddings.select(
        F.col(ID_COL).alias("_id"), F.col(VEC_COL).cast("array<double>").alias("v")
    )
    init = emb.orderBy("_id").limit(k).collect()
    cents = [
        {"cell_id": i, "centroid": [float(x) for x in r["v"]]}
        for i, r in enumerate(init)
    ]
    for _ in range(iterations):
        assigned = _assign_cells_rows(emb, cents, "v")
        updated = _update_centroids(assigned, "v", scale)
        cents = [
            {
                "cell_id": c["cell_id"],
                "centroid": updated.get(c["cell_id"], c["centroid"]),
            }
            for c in cents
        ]
    return cents


def kmeans_assignments(embeddings: DataFrame, cents: list) -> DataFrame:
    """(id, cell_id) under a fitted centroid list — one projection."""
    emb = embeddings.select(
        F.col(ID_COL), F.col(VEC_COL).cast("array<double>").alias("v")
    )
    return _assign_cells_rows(emb, cents, "v").select(ID_COL, "cell_id")
