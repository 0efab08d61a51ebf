"""Deterministic dataset splitting and sampling for training pipelines.

A 100 TB corpus needs train/val/test assignment and subsampling that is
(a) reproducible run-to-run and engine-to-engine, (b) a pure projection
— no shuffle, no state, no sampling seed that changes with partitioning
(``DataFrame.sample`` is partition-order dependent!), and (c) pushdown-
friendly (a split filter should prune at the scan).

Both operators hash the stable record id through the same affine map
mod 2^31-1 used by the MinHash permutations (functions/hashing.py) —
plain int64 arithmetic every engine computes bit-identically, so the
DuckDB oracle replays the exact assignment:

    slot(id) = (A * id + B) mod M,   uniform over [0, M)

- :func:`split_assign` — map the slot through cumulative split
  fractions → a ``split`` label column.
- :func:`stratified_sample` — keep rows with slot < fraction * M,
  per-record deterministic (a row is in or out forever, regardless of
  parallelism) — the property Bernoulli ``sample()`` lacks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.functions.hashing import (
    MOD,
    sql_token_hash64,
    token_hash64_column,
)

#: Fixed affine parameters (coprime multiplier, odd offset) — chosen
#: once so splits are stable forever; different from every MinHash
#: permutation pair so split membership never correlates with LSH
#: bucketing.
SPLIT_A = 1_103_515_245
SPLIT_B = 12_345

#: The record id and group key the samplers read.
ID_COL = "doc_id"
GROUP_COL = "source"


def split_slot(id_col: Column) -> Column:
    """Uniform deterministic slot in [0, MOD) from a bigint id.

    The id is reduced mod M BEFORE the multiply: both factors stay
    below 2^31, the product below 2^62 — overflow-free int64 for ANY
    64-bit id on every engine (a raw ``id * A`` wraps differently per
    engine once ids pass ~8e9)."""
    r = F.pmod(id_col.cast("long"), F.lit(MOD))
    return F.pmod(r * F.lit(SPLIT_A) + F.lit(SPLIT_B), F.lit(MOD))


def sql_split_slot(id_expr: str) -> str:
    """DuckDB twin of :func:`split_slot` (same int64 arithmetic; BIGINT
    casts keep DuckDB's INT32-defaulting literals from overflowing)."""
    m = f"CAST({MOD} AS BIGINT)"
    r = f"((CAST({id_expr} AS BIGINT) % {m} + {m}) % {m})"
    return f"(({r} * {SPLIT_A} + {SPLIT_B}) % {m})"


def split_assign(
    df: DataFrame,
    splits: dict[str, float],
    id_col: str = ID_COL,
    out_col: str = "split",
) -> DataFrame:
    """Append a ``split`` label column assigning each row to one of
    ``splits`` (name → fraction; fractions must sum to 1) by its hashed
    slot.  A pure projection: no shuffle, safe under any partitioning,
    and a downstream ``WHERE split = 'train'`` folds to an integer range
    predicate on the slot."""
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    slot = split_slot(F.col(id_col))
    expr = None
    acc = 0.0
    for name, frac in splits.items():
        acc += frac
        bound = int(acc * MOD)
        cond = slot < F.lit(bound)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    # float roundoff guard: the last bound may fall short of MOD by 1
    expr = expr.otherwise(F.lit(list(splits)[-1]))
    return df.withColumn(out_col, expr)


def sql_split_assign(id_expr: str, splits: dict[str, float]) -> str:
    """DuckDB CASE twin of :func:`split_assign` (identical bounds)."""
    slot = sql_split_slot(id_expr)
    acc = 0.0
    whens = []
    for name, frac in splits.items():
        acc += frac
        whens.append(f"WHEN {slot} < {int(acc * MOD)} THEN '{name}'")
    return f"CASE {' '.join(whens)} ELSE '{list(splits)[-1]}' END"


def stratified_sample(df: DataFrame, fraction: float) -> DataFrame:
    """Deterministic ~``fraction`` subsample: a row is kept iff its hash
    slot falls below ``fraction * MOD`` — membership is a property of
    the id, not of partitioning, executor count, or evaluation order
    (unlike ``DataFrame.sample``).  Composable: the 1% sample is a
    strict subset of the 10% sample."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return df.filter(split_slot(F.col(ID_COL)) < F.lit(int(fraction * MOD)))


def sql_stratified_sample_pred(id_expr: str, fraction: float) -> str:
    """DuckDB WHERE-clause twin of :func:`stratified_sample`."""
    return f"{sql_split_slot(id_expr)} < {int(fraction * MOD)}"


def mixture_sample(
    df: DataFrame,
    fractions: dict[str, float],
    default: float = 0.0,
) -> DataFrame:
    """Deterministic DATA-MIXING resample: keep each row iff its hash
    slot falls below its group's target fraction — the per-source
    up/down-weighting every pre-training mixture needs (e.g. keep all
    of a high-quality source, 10% of a crawl), with the same guarantees
    as :func:`stratified_sample`: pure projection, repartition-
    invariant, a group's 25% sample is a strict subset of its 50% one,
    and the filter folds to an integer predicate at the scan.  Groups
    absent from ``fractions`` keep ``default``."""
    for g, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {g!r} must be in [0, 1], got {frac}")
    bound = None
    for g, frac in fractions.items():
        cond = F.col(GROUP_COL) == F.lit(g)
        b = F.lit(int(frac * MOD))
        bound = F.when(cond, b) if bound is None else bound.when(cond, b)
    bound = (
        F.lit(int(default * MOD)) if bound is None else bound.otherwise(F.lit(int(default * MOD)))
    )
    return df.filter(split_slot(F.col(ID_COL)) < bound)


def sql_mixture_sample_pred(
    id_expr: str,
    group_expr: str,
    fractions: dict[str, float],
    default: float = 0.0,
) -> str:
    """DuckDB WHERE-clause twin of :func:`mixture_sample`."""
    whens = " ".join(
        f"WHEN {group_expr} = '{g}' THEN {int(frac * MOD)}"
        for g, frac in fractions.items()
    )
    case = f"CASE {whens} ELSE {int(default * MOD)} END" if whens else str(int(default * MOD))
    return f"{sql_split_slot(id_expr)} < ({case})"


CAP_SALT = 16


def cap_per_group(df: DataFrame, k: int) -> DataFrame:
    """Deterministic per-group cap: keep at most ``k`` rows per group,
    chosen by hash-slot order (slot asc, id asc) — the "max N docs per
    domain" step of web-corpus curation.  Membership is a property of
    the ids in the group, not of partitioning or evaluation order, so
    reruns and engines agree row-for-row.

    Scale shape: a bare ``row_number() OVER (PARTITION BY group)``
    funnels each group's full row set through one task; this salts the
    rank into ``CAP_SALT`` buckets (a global top-k row is necessarily
    in its own bucket's top-k), keeps each bucket's local k, then ranks
    the ≤ CAP_SALT·k survivors — identical result, bounded task state.
    """
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    slot = split_slot(F.col(ID_COL))
    salted = df.withColumn("_slot", slot).withColumn(
        "_salt", F.pmod(F.col("_slot"), F.lit(CAP_SALT))
    )
    w_local = Window.partitionBy(GROUP_COL, "_salt").orderBy(
        F.asc("_slot"), F.asc(ID_COL)
    )
    survivors = salted.withColumn(
        "_rn", F.row_number().over(w_local)
    ).filter(F.col("_rn") <= k)
    w_final = Window.partitionBy(GROUP_COL).orderBy(
        F.asc("_slot"), F.asc(ID_COL)
    )
    return (
        survivors.withColumn("_rk", F.row_number().over(w_final))
        .filter(F.col("_rk") <= k)
        .drop("_slot", "_salt", "_rn", "_rk")
    )


def sql_cap_per_group_pred(
    id_expr: str, group_expr: str, k: int
) -> str:
    """DuckDB row_number() filter twin of :func:`cap_per_group` — use
    inside ``QUALIFY`` or a subquery: the single-window form is
    result-identical to the salted two-phase plan."""
    return (
        f"row_number() OVER (PARTITION BY {group_expr} "
        f"ORDER BY {sql_split_slot(id_expr)} ASC, {id_expr} ASC) <= {k}"
    )


def group_hash_mixed(group: Column) -> Column:
    """Well-mixed bigint from a group-key string: portable 62-bit
    polynomial hash, then a QUADRATIC mix ``(r² + r) mod M``.

    The quadratic step is load-bearing: the downstream slot map is
    affine, and affine maps preserve arithmetic progressions — a family
    of structured keys ('src0', 'src1', …) hashes to a constant-stride
    progression that occupies one contiguous slot band, starving some
    splits entirely (observed: 20/20 sources in 'train').  Squaring
    breaks the progression while staying exact int64 arithmetic on any
    engine (r < 2^31, so r² < 2^62)."""

    r = F.pmod(token_hash64_column(group), F.lit(MOD))
    return F.pmod(r * r + r, F.lit(MOD))


def sql_group_hash_mixed(group_expr: str) -> str:
    """DuckDB twin of :func:`group_hash_mixed`."""

    m = f"CAST({MOD} AS BIGINT)"
    r = f"((({sql_token_hash64(group_expr)}) % {m} + {m}) % {m})"
    return f"((({r} * {r} + {r}) % {m} + {m}) % {m})"


def group_split_assign(df: DataFrame, splits: dict[str, float]) -> DataFrame:
    """Group-aware split assignment: every row of a group lands in the
    SAME split, because the slot is hashed from the group key (mixed —
    see :func:`group_hash_mixed`), not the row id.  This is the leakage
    guard ML eval requires — near-identical documents from one domain
    must not straddle train and test — and it stays a pure projection:
    no shuffle, repartition-invariant, engine-replayable.

    Fractions apportion GROUPS, not rows: a heavy group drags its whole
    row mass into one split (that is the point).  Mirror in SQL via
    ``sql_split_assign(sql_group_hash_mixed(group_expr), splits)``.
    """
    tmp = "_group_hash64"
    out = split_assign(
        df.withColumn(tmp, group_hash_mixed(F.col(GROUP_COL))), splits, id_col=tmp
    )
    return out.drop(tmp)
