"""Generic as-of (nearest-event) join — a time-series primitive the
reference lacks (SURVEY.md §2.3 notes no as-of joins) but any
training-data / telemetry pipeline needs: "for each left row, the most
recent right row at or before its timestamp, per key".

Spark has no built-in as-of join, and the naive formulation
(left ⨝ right ON key AND r.ts <= l.ts, then max) materializes a
per-key cross product.  This implementation is the scalable
union-and-carry-forward plan:

1. Tag both sides and union them (narrow, no shuffle).
2. One shuffle: window partitioned by key, ordered by (ts, side) —
   right rows sort before left rows at equal timestamps, making the
   match inclusive.
3. Carry the right payload forward with ``last(..., ignorenulls=True)``
   over an unbounded-preceding running frame.  The payload travels as a
   single struct so all fields always come from the SAME right row.
4. Keep left rows; optionally null out matches older than ``tolerance``.

Cost at 100 TB: exactly one shuffle of |left| + |right| rows keyed on
the join key — same as any equi join, no candidate-pair blowup, and
AQE skew splitting applies to hot keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_SIDE = "__asof_side"
_PAYLOAD = "__asof_payload"

#: The event-time column of both sides.
TS_COL = "ts"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    direction: str = "backward",
    tolerance: int | float | None = None,
) -> DataFrame:
    """Left as-of join on the :data:`TS_COL` event time: every ``left``
    row, plus the temporally closest ``right`` row per key
    (``backward``: latest right.ts <= left.ts; ``forward``: earliest
    right.ts >= left.ts), or NULLs when none.  A right column whose
    name the left side also has comes out suffixed ``_right``.

    Timestamp columns must be mutually comparable and support
    subtraction (numeric epoch values or timestamps).  ``tolerance``
    (same unit as the timestamps' difference) nulls out matches further
    away than the bound, keeping the left row.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    keys = [on] if isinstance(on, str) else list(on)

    right_payload = [c for c in right.columns if c not in keys]
    # Right rows: keys + event time + full payload struct (never null on
    # the right side, so last(ignorenulls) always grabs a whole row).
    r = right.select(
        *keys,
        F.col(TS_COL).alias("__t"),
        F.lit(0).alias(_SIDE),
        F.struct(*[F.col(c) for c in right_payload]).alias(_PAYLOAD),
        *[F.lit(None).alias(f"__l_{c}") for c in left.columns],
    )
    l = left.select(
        *keys,
        F.col(TS_COL).alias("__t"),
        F.lit(1).alias(_SIDE),
        F.lit(None).cast(r.schema[_PAYLOAD].dataType).alias(_PAYLOAD),
        *[F.col(c).alias(f"__l_{c}") for c in left.columns],
    )
    unioned = r.unionByName(l)

    if direction == "backward":
        order = [F.asc("__t"), F.asc(_SIDE)]
        frame = Window.unboundedPreceding, Window.currentRow
    else:
        order = [F.desc("__t"), F.asc(_SIDE)]
        frame = Window.unboundedPreceding, Window.currentRow
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(*frame)
    )
    carried = unioned.withColumn(
        _PAYLOAD, F.last(_PAYLOAD, ignorenulls=True).over(w)
    )

    out = carried.filter(F.col(_SIDE) == 1)
    matched_ts = F.col(f"{_PAYLOAD}.{TS_COL}") if TS_COL in right_payload else None
    if tolerance is not None:
        if matched_ts is None:
            raise ValueError(f"tolerance requires {TS_COL} in the right payload")
        gap = (
            (F.col("__t") - matched_ts)
            if direction == "backward"
            else (matched_ts - F.col("__t"))
        )
        out = out.withColumn(
            _PAYLOAD,
            F.when(gap <= tolerance, F.col(_PAYLOAD)).otherwise(F.lit(None)),
        )

    return out.select(
        *[F.col(f"__l_{c}").alias(c) for c in left.columns],
        *[
            F.col(f"{_PAYLOAD}.{c}").alias(
                f"{c}_right" if c in left.columns else c
            )
            for c in right_payload
        ],
    )
