"""Relational + domain operators.

- ``ingest``: raw feed record → enriched lake row (the reference's write
  path as a pure DataFrame→DataFrame transform).
- ``schedule_deviation``: the flagship analytics query (E3).
- ``asof`` / ``sessions``: as-of join and sessionization.
- ``dedup`` / ``clusters``: exact, MinHash-LSH, banded SimHash,
  n-gram-Jaccard dedup; connected components + survivor resolution.
- ``similarity`` / ``kmeans``: LSH-bucketed, IVF and PQ cosine ANN.
- ``multimodal``: binary-column decode/feature plumbing (stub codecs).

Import each name from the module that defines it.
"""
