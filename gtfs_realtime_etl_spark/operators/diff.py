"""Snapshot reconciliation: row-level diff between two versions of a
keyed table.

The companion to the table-checksum integrity op (plans/analytics6.py):
when the order-invariant checksums DISAGREE, this operator says which
rows — added, deleted, or modified — without comparing every column
pair row by row.

Scale shape: both sides reduce to ``(key, row_hash)`` projections
first (md5-prefix hash — JVM-native, no Python, no HOF), then ONE
full-outer shuffle join on the key classifies every row:

- key only on the new side   → ``added``
- key only on the old side   → ``deleted``
- both sides, hashes differ  → ``modified``
- both sides, hashes equal   → ``unchanged``

At 100 TB both sides hash-partition on the same key, so the join is
the minimal single exchange; both snapshots written as bucketed
tables on the key (``DataFrameWriter.bucketBy``) would eliminate even
that.  The column values never travel — only key + 60-bit hash.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def row_hash60(canonical: Column) -> Column:
    """First 60 bits of md5 of a canonical row string, as BIGINT —
    bit-identical to DuckDB's
    ``CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(canonical), 1, 15), 16, 10).cast("long")


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str,
    canonical: Column,
) -> DataFrame:
    """``(key, change_type)`` for every key present in either snapshot.

    ``canonical`` is evaluated against EACH side (it must reference
    only columns present in both)."""
    o = old.select(F.col(key_col).alias("k"), row_hash60(canonical).alias("h_old"))
    n = new.select(F.col(key_col).alias("k"), row_hash60(canonical).alias("h_new"))
    j = o.join(n, "k", "full_outer")
    change = (
        F.when(F.col("h_old").isNull(), F.lit("added"))
        .when(F.col("h_new").isNull(), F.lit("deleted"))
        .when(F.col("h_old") != F.col("h_new"), F.lit("modified"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(F.col("k").alias(key_col), change.alias("change_type"))
