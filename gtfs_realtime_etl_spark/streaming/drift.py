"""Streaming distribution-drift monitor (event-time windows vs a
frozen baseline).

The production guardrail a continuously-ingesting training-data
pipeline runs NEXT TO dedup/quality filters: if the incoming data's
feature distribution shifts (a scraper breaks, a source flips format,
an upstream model changes), you want the window that drifted flagged
in-flight — not discovered after a 100 TB epoch is written.

Semantics: for each (event-time window, source) the monitor aggregates
``n`` and the feature mean, then scores the shift against a frozen
baseline (μ, σ) as a standard error z:

    z = (mean_w − μ) / (σ / √n_w)

``drifted = |z| > threshold``.  The baseline is computed ONCE from a
reference corpus by :func:`baseline_stats` (decimal-accumulated mean /
sample-std — engine-exact, same discipline as the registry's
``embedding_standardize``) and broadcast; the stream side is one
watermarked windowed aggregate — the ONLY shuffle — joined to the
tiny baseline table.

One function serves streaming and batch: a batch frame runs the
identical windowed aggregation with no watermark (the backfill twin),
so tests compare the streaming result to the batch result on the same
rows — the same twin pattern as ``streaming/windows.py``.

Scale notes: state is O(open windows × sources) and the watermark
evicts closed windows; the baseline join is a broadcast of |sources|
rows.  Append output mode emits each window exactly once when the
watermark passes its end — alerts are emitted once, when final.

Reference scope: the reference has no monitoring surface; this is a
driver-mandated LLM-pipeline extension (SURVEY.md §7 step 7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_DEC = "decimal(30,12)"

#: The monitored metric column and the source column it is grouped by.
VALUE_COL = "value"
GROUP_COL = "src"
#: Tumbling event-time window and watermark of the streaming monitor
#: (read when the frame is built).
WINDOW = "5 minutes"
WATERMARK = "10 minutes"


def baseline_stats(reference: DataFrame) -> DataFrame:
    """Frozen per-source (μ, σ) from a reference corpus — decimal-exact
    sums so the baseline is independent of partitioning.  Output:
    (src, mu, sigma)."""
    agg = reference.groupBy(GROUP_COL).agg(
        F.count(VALUE_COL).alias("n"),
        F.sum(F.col(VALUE_COL).cast(_DEC)).alias("s"),
        F.sum((F.col(VALUE_COL) * F.col(VALUE_COL)).cast(_DEC)).alias("s2"),
    )
    nd = F.col("n").cast("double")
    mu = F.col("s").cast("double") / nd
    var = (
        F.col("s2").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / nd
    ) / (nd - F.lit(1.0))
    return agg.select(GROUP_COL, mu.alias("mu"), F.sqrt(var).alias("sigma"))


def feature_drift(events: DataFrame, baseline: DataFrame) -> DataFrame:
    """Windowed per-source drift scores of ``events`` (event time ``ts``)
    vs the frozen baseline.  Streaming inputs get the watermark; batch
    inputs run the identical aggregation (the backfill twin).  Output:
    (window, src, n, mean, z, drifted), drifted when |z| > 4."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", WATERMARK)
    agg = src.groupBy(F.window("ts", WINDOW).alias("window"), GROUP_COL).agg(
        F.count(VALUE_COL).alias("n"),
        F.avg(VALUE_COL).alias("mean"),
    )
    z = (F.col("mean") - F.col("mu")) / (
        F.col("sigma") / F.sqrt(F.col("n").cast("double"))
    )
    return agg.join(F.broadcast(baseline), GROUP_COL).select(
        "window",
        GROUP_COL,
        "n",
        "mean",
        z.alias("z"),
        (F.abs(z) > F.lit(4.0)).alias("drifted"),
    )
