"""Incremental aggregate maintenance (partial-state rollups).

At 100 TB you never recompute a rollup from scratch when a partition
lands: you keep per-partition PARTIAL aggregate state (count, exact
DECIMAL sum, min, max — all commutative monoids), merge the new
partition's partials into the stored state, and finalize cheaply.
This module is that contract as plain DataFrames:

- :func:`partial_aggregate` — fold one slice of the fact table into
  partial-state rows (one shuffle over the slice only);
- :func:`merge_partials` — combine any number of partial-state frames
  (associative + commutative, so ANY partition of the input rows —
  daily loads, backfills, splits — merges to the identical state);
- :func:`finalize` — derive the presentation columns (avg) from state.

The DECIMAL sum is what makes the merge exact: double sums would make
the merged result depend on the merge order (and diverge from a direct
groupBy), decimal sums are associative bit-for-bit.  The same algebra
is why Spark's own partial/final HashAggregate phases are correct; this
operator exposes it ACROSS jobs instead of within one.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Partial-state columns appended to the group columns.
STATE_COLS = ("_n", "_sum", "_min", "_max")


def partial_aggregate(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
) -> DataFrame:
    """Fold ``df`` into partial aggregate state per ``group_cols``
    (the sum exact at two decimal places)."""
    dec = F.col(value_col).cast("decimal(18,2)")
    return df.groupBy(*group_cols).agg(
        F.count(value_col).alias("_n"),
        F.sum(dec).alias("_sum"),
        F.min(value_col).alias("_min"),
        F.max(value_col).alias("_max"),
    )


def merge_partials(parts: Sequence[DataFrame]) -> DataFrame:
    """Merge partial-state frames (all from :func:`partial_aggregate`
    with the same grouping).  Associative and commutative: any
    slicing of the underlying rows yields the identical merged state."""
    if not parts:
        raise ValueError("merge_partials needs at least one input")
    first = parts[0]
    group_cols = [c for c in first.columns if c not in STATE_COLS]
    for p in parts[1:]:
        if p.columns != first.columns:
            raise ValueError(
                f"partial schema mismatch: {p.columns} vs {first.columns}"
            )
    unioned = reduce(lambda a, b: a.unionByName(b), parts)
    return unioned.groupBy(*group_cols).agg(
        F.sum("_n").alias("_n"),
        F.sum("_sum").alias("_sum"),
        F.min("_min").alias("_min"),
        F.max("_max").alias("_max"),
    )


def finalize(state: DataFrame) -> DataFrame:
    """Presentation view of a partial state: count, exact sum (as
    double), min/max, and the derived mean."""
    group_cols = [c for c in state.columns if c not in STATE_COLS]
    return state.select(
        *group_cols,
        F.col("_n").alias("n"),
        F.col("_sum").cast("double").alias("sum"),
        F.col("_min").alias("min"),
        F.col("_max").alias("max"),
        (F.col("_sum").cast("double") / F.col("_n").cast("double")).alias("avg"),
    )
