"""Relational + domain operators.

- ``ingest``: raw feed record → enriched lake row (the reference's write
  path as a pure DataFrame→DataFrame transform).
- ``schedule_deviation``: the flagship analytics query (E3).
- ``asof`` / ``sessions``: as-of join and sessionization.
- ``dedup`` / ``clusters``: exact, MinHash-LSH, banded SimHash,
  n-gram-Jaccard dedup; connected components + survivor resolution.
- ``similarity``: brute-force, LSH-bucketed, and IVF cosine ANN.
- ``skew``: salted join / salted set-agg for hot keys.
- ``multimodal``: binary-column decode/resize/frame plumbing (stub codecs).
"""

from gtfs_realtime_etl_spark.operators.asof import asof_join
from gtfs_realtime_etl_spark.operators.clusters import (
    connected_components,
    resolve_duplicates,
)
from gtfs_realtime_etl_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_candidates,
    minhash_lsh_dedup,
    simhash_dedup,
)
from gtfs_realtime_etl_spark.operators.ingest import enrich_positions
from gtfs_realtime_etl_spark.operators.multimodal import (
    extract_features,
    media_stats,
    resize_media,
    sample_frames,
    synthesize_media,
)
from gtfs_realtime_etl_spark.operators.schedule_deviation import (
    schedule_deviation,
    stop_reliability,
)
from gtfs_realtime_etl_spark.operators.sessions import sessionize
from gtfs_realtime_etl_spark.operators.similarity import (
    assign_cells,
    brute_force_topk,
    centroids_from_labels,
    ivf_topk,
    lsh_bucketed_topk,
)
from gtfs_realtime_etl_spark.operators.skew import salted_distinct_agg, salted_join

__all__ = [
    "asof_join",
    "assign_cells",
    "brute_force_topk",
    "centroids_from_labels",
    "connected_components",
    "enrich_positions",
    "exact_dedup",
    "extract_features",
    "ivf_topk",
    "jaccard_pairs",
    "lsh_bucketed_topk",
    "media_stats",
    "minhash_lsh_candidates",
    "minhash_lsh_dedup",
    "resize_media",
    "resolve_duplicates",
    "salted_distinct_agg",
    "salted_join",
    "sample_frames",
    "schedule_deviation",
    "sessionize",
    "simhash_dedup",
    "stop_reliability",
    "synthesize_media",
]
