"""Document-level text analysis operators.

Thin DataFrame-level compositions of the ``functions.text`` library.
Narrow (per-row) transforms — they add zero shuffles to a pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.functions.text import quality_score, token_count


def quality_filter(
    docs: DataFrame,
    text_col: str = "text",
    min_quality: float = 0.5,
    min_tokens: int = 5,
) -> DataFrame:
    """Corpus quality gate: the standard pre-training filter shape."""
    t = F.col(text_col)
    return docs.filter(
        (quality_score(t) >= min_quality) & (token_count(t) >= min_tokens)
    )

