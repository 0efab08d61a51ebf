"""Frequent-items (heavy-hitter) sketching: a distributed, mergeable
Misra-Gries summary over a token column.

The 100 TB story: exact top-k token counts need a full shuffle keyed
on the token — at corpus scale that is a vocabulary-sized exchange of
billions of distinct groups.  A Misra-Gries summary with ``capacity``
counters per partition needs NO data shuffle at all: each partition
folds its token stream into at most ``capacity`` (token, count) pairs
plus one scalar (the total decremented mass), and the union of those
tiny partials — ``partitions x capacity`` rows — merges in one
vocabulary-independent aggregate.  The classic mergeability result
(Agarwal et al., "Mergeable Summaries", PODS 2012) gives the global
guarantee

    est(t) <= exact(t) <= est(t) + D,   D <= N / (capacity + 1)

where ``D`` is the summed decrement mass and ``N`` the total token
count — the same bound a single sequential Misra-Gries pass achieves.

Partition-layout determinism, stated plainly: the REPORTED SET of
(token, est) pairs depends on how rows fall into partitions (two
layouts may evict different borderline tokens), so ``est`` is not a
hash-gateable column.  What IS layout-independent is the guarantee
itself — ``bound_ok`` / ``retained`` style verdict columns derived
from the theorem hold under every layout, which is how the registry's
``heavy_hitters`` query rides the exact-oracle hash gate (same
discipline as ``approx_distinct_profile``'s HLL error booleans).

Reference scope: the reference (smohiudd/gtfs-realtime-etl) has no
sketch surface; this is a driver-mandated LLM-pipeline extension
(SURVEY.md §7 step 7).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Counters kept per partition.  Error bound is N/(capacity+1) tokens.
DEFAULT_CAPACITY = 64


def _mg_merge(counts: dict, capacity: int) -> tuple[dict, int]:
    """Shrink ``counts`` to ``capacity`` entries by subtracting the
    (capacity+1)-th largest value from every counter and dropping the
    non-positive ones (the mergeable-summaries reduction).  Returns the
    shrunk dict and the subtracted value (0 if nothing was cut)."""
    if len(counts) <= capacity:
        return counts, 0
    s = sorted(counts.values(), reverse=True)[capacity]
    return {t: v - s for t, v in counts.items() if v > s}, s


def mg_partials(
    tokens: DataFrame,
    capacity: int = DEFAULT_CAPACITY,
) -> DataFrame:
    """Per-partition Misra-Gries partials over ``tokens["token"]``.

    Output schema ``(token string, est long, dec long)``: survivor rows
    carry (token, est, 0); ONE sentinel row per partition carries
    (NULL, 0, dec_total).  Batches are pre-aggregated with a vectorized
    ``value_counts`` before the sequential reduction, so the Python
    loop touches at most ``capacity + distinct(batch)`` entries per
    Arrow batch — never one iteration per token occurrence."""

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict = {}
        dec_total = 0
        seen = False
        for pdf in batches:
            if pdf.empty:
                continue
            seen = True
            for tok, c in pdf["token"].value_counts().items():
                counts[tok] = counts.get(tok, 0) + int(c)
            counts, s = _mg_merge(counts, capacity)
            dec_total += s
        if not seen:
            return
        toks = list(counts)
        yield pd.DataFrame(
            {
                "token": toks + [None],
                "est": [counts[t] for t in toks] + [0],
                "dec": [0] * len(toks) + [dec_total],
            }
        )

    return tokens.select("token").mapInPandas(
        fold, schema="token string, est long, dec long"
    )


def mg_summary(
    tokens: DataFrame,
    capacity: int = DEFAULT_CAPACITY,
) -> DataFrame:
    """Merged global sketch as ONE grouped ``(token, est, d)`` frame:
    each surviving token carries its estimate summed across partitions
    (``d`` = 0), and the single NULL-token row carries ``d``, the global
    decrement mass D.  ``exact - D <= est <= exact`` for every token;
    any token with ``exact > N/(capacity+1)`` is guaranteed present.
    One aggregate yields both, so a consumer that reads the estimates
    and D from it scans ``tokens`` once."""
    return (
        mg_partials(tokens, capacity)
        .groupBy("token")
        .agg(F.sum("est").alias("est"), F.sum("dec").alias("d"))
    )
