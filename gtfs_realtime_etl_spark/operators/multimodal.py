"""Multimodal (image/audio/video) column plumbing.

Treats media as opaque ``binary`` payloads with typed metadata structs,
processed through Arrow-batched ``mapInPandas`` — the Spark-side schema,
partitioning, batch shape, and UDF signatures are real and tested; the
actual codecs (PIL/ffmpeg/librosa are not in this container) are STUBBED
behind :data:`DECODERS` with a deterministic fake, clearly marked.

At scale the pattern is: binary payloads live in parquet next to their
metadata; decode/feature-extract runs as a narrow mapInPandas over
size-capped batches (``spark.sql.execution.arrow.maxRecordsPerBatch``),
so one poisonous 4 GB video can't blow an executor's Arrow buffer.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("modality", StringType()),
        StructField("n_bytes", LongType()),
        StructField("feature", ArrayType(DoubleType())),
    ]
)


#: Length of every feature vector.
FEATURE_DIM = 16


def _fake_decode(payload: bytes) -> np.ndarray:
    """STUB codec: deterministic feature from payload bytes.

    Real deployments replace this with PIL/librosa/ffmpeg decode; the
    libraries are absent in this container (SURVEY/driver mandate), so a
    byte-histogram stands in.  Deterministic: same payload → same vector.
    """
    if payload is None or len(payload) == 0:
        return np.zeros(FEATURE_DIM)
    arr = np.frombuffer(payload, dtype=np.uint8)
    hist, _ = np.histogram(arr, bins=FEATURE_DIM, range=(0, 256))
    return hist / max(len(arr), 1)


#: Pluggable codec registry.  Default: the deterministic stub.
DECODERS: dict[str, Callable[[bytes], np.ndarray]] = {
    "image": _fake_decode,
    "audio": _fake_decode,
    "video": _fake_decode,
}


def extract_features(media: DataFrame) -> DataFrame:
    """payload binary → :data:`FEATURE_DIM` feature vector via Arrow-batched
    mapInPandas.  Narrow; batch size bounded by Arrow settings."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [
                DECODERS.get(m, _fake_decode)(p).tolist()
                for m, p in zip(pdf["modality"], pdf["payload"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                    "feature": feats,
                }
            )

    return media.mapInPandas(batches, schema=FEATURE_SCHEMA)


def media_stats(media: DataFrame) -> DataFrame:
    """Metadata-only profile: aggregates the PERSISTED ``n_bytes``
    metadata column, never ``length(payload)`` — so the scan's
    ReadSchema excludes the heavy binary column and a 100 TB media lake
    profiles at metadata cost (pinned by
    tests/test_multimodal.py::test_media_stats_prunes_payload)."""
    return media.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.avg("n_bytes").alias("avg_bytes"),
        F.max("width").alias("max_width"),
        F.max("height").alias("max_height"),
        F.avg("duration_ms").alias("avg_duration_ms"),
    )


def synthesize_media(documents: DataFrame) -> DataFrame:
    """Deterministic fake image table derived from the documents corpus
    — test/bench input for the plumbing above (no real codecs needed)."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("modality"),
        F.encode(F.col("text"), "UTF-8").cast("binary").alias("payload"),
        # payload size stamped as metadata at synthesis ("ingest time"),
        # so profiling never needs the binary column
        F.octet_length(F.col("text")).cast("long").alias("n_bytes"),
        F.lit("image/fake").alias("mime"),
        (F.col("doc_id") % 640 + 64).cast("int").alias("width"),
        (F.col("doc_id") % 480 + 48).cast("int").alias("height"),
        (F.col("doc_id") % 60000).cast("int").alias("duration_ms"),
    )
