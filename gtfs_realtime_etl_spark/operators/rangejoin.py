"""Bucketed interval-overlap (range) join.

Spark has no native interval-overlap join: expressing ``a.start <=
b.end AND b.start <= a.end`` directly gives BroadcastNestedLoopJoin /
CartesianProduct — an O(n*m) plan that dies long before 100 TB.  The
standard distributed rewrite (used by Spark range-join extensions and
the interval-join literature) is time bucketing:

1. replicate each interval to every fixed-width bucket it touches
   (``floor(start/W) .. floor(end/W)``, integer division — ns-scale
   epochs exceed double precision so float math is banned here);
2. equi-join on the bucket — a plain shuffled hash join,
   so Catalyst/AQE handle skew and parallelism normally;
3. keep pairs that truly overlap (the residual predicate);
4. de-duplicate *without a distinct shuffle*: a pair meeting in k
   shared buckets is emitted only from the canonical one —
   ``bucket == floor(max(a.start, b.start)/W)`` — which every
   overlapping pair meets in exactly once.

Replication factor is ``1 + interval_len/W``: pick ``W`` near the
typical interval length so rows replicate ~2x.  :data:`MAX_BUCKETS` guards
against a pathological interval exploding into millions of rows (fail
loud, don't OOM an executor).

Beyond the reference surface (its joins are equi-only — SURVEY.md
SS2.3); this is the batch foundation for co-activity / conflict
detection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Most buckets one interval may touch; a wider one fails the job.
MAX_BUCKETS = 4096


def overlap_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_bounds: tuple[str, str],
    right_bounds: tuple[str, str],
    bucket_width: int,
    residual: Column | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Join rows whose [start, end] intervals overlap (closed bounds).

    ``left_bounds`` / ``right_bounds`` name integer start/end columns
    (epoch ns/us/s — any unit, as long as ``bucket_width`` matches).
    Column names must be disjoint between the two sides.  ``residual``
    adds a post-join predicate, e.g. equality of per-side key columns.
    Zero-length intervals (start == end) participate normally.

    ``num_partitions`` pins the pair-join parallelism: interval rows
    are byte-light but the per-pair work downstream is not, and AQE's
    size-based coalescing would otherwise fuse the join into one or two
    tasks.  A user-specified repartition on the bucket key is
    AQE-exempt and already satisfies the join's distribution
    requirement, so pinning adds no extra exchange.
    """
    ls, le = left_bounds
    rs, re_ = right_bounds

    overlap_keys = set(left.columns) & set(right.columns)
    if overlap_keys:
        raise ValueError(
            f"ambiguous columns on both sides: {sorted(overlap_keys)}; "
            "rename before joining"
        )

    def buckets(df: DataFrame, s: str, e: str) -> DataFrame:
        b0 = F.expr(f"CAST({s} DIV {bucket_width} AS BIGINT)")
        b1 = F.expr(f"CAST({e} DIV {bucket_width} AS BIGINT)")
        guard = F.when(
            b1 - b0 >= F.lit(MAX_BUCKETS),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"overlap_join: interval spans >= {MAX_BUCKETS} buckets "
                        f"of width {bucket_width}; raise bucket_width ("
                    ),
                    F.col(s).cast("string"),
                    F.lit(".."),
                    F.col(e).cast("string"),
                    F.lit(")"),
                )
            ),
        ).otherwise(b1)
        return df.withColumn("_rj_bucket", F.explode(F.sequence(b0, guard)))

    lx = buckets(left, ls, le)
    rx = buckets(right, rs, re_).withColumnRenamed("_rj_bucket", "_rj_bucket_r")
    if num_partitions is not None:
        lx = lx.repartition(num_partitions, "_rj_bucket")
        rx = rx.repartition(num_partitions, "_rj_bucket_r")

    joined = lx.join(rx, lx["_rj_bucket"] == rx["_rj_bucket_r"], "inner")
    overlap = (F.col(ls) <= F.col(re_)) & (F.col(rs) <= F.col(le))
    # Canonical-bucket emission: the first bucket both intervals share
    # is the one containing max(start_a, start_b).
    canonical = F.col("_rj_bucket") == F.expr(
        f"CAST(greatest({ls}, {rs}) DIV {bucket_width} AS BIGINT)"
    )
    out = joined.where(overlap & canonical)
    if residual is not None:
        out = out.where(residual)
    return out.drop("_rj_bucket", "_rj_bucket_r")
