"""Round-7 opt-in scale probe (SPARK_GRAFT_SCALE_SMOKE=1):
epoch_shuffle's two-level range rank at 200x corpus — verifies the
parallel shape actually beats the naive single-task-per-epoch
ROW_NUMBER it replaced (the round-6 change doubled the sf0.1 cost;
this is the scale where the trade pays off), and that both shapes
produce bit-identical positions.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

scale = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SCALE_SMOKE"),
    reason="opt-in: SPARK_GRAFT_SCALE_SMOKE=1 runs the round-7 scale smokes",
)


@pytest.mark.scale_smoke
@scale
def test_epoch_shuffle_two_level_beats_naive_rank(spark):
    from gtfs_realtime_etl_spark.plans.analytics2 import (
        _shuffle_key,
        epoch_shuffle_positions,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        .crossJoin(spark.range(200).select(F.col("id").alias("rep")))
        .select((F.col("doc_id") * 1000 + F.col("rep")).alias("doc_id"))
    )

    def checksum(df):
        # order-free fingerprint of the (epoch, doc_id, pos) relation
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.col("pos").cast("long") * (F.pmod(F.col("doc_id"), F.lit(9973)) + 1)
            ).alias("s"),
        ).collect()[0]

    # naive shape the two-level rank replaced: ROW_NUMBER over
    # PARTITION BY epoch — each epoch's ENTIRE corpus sorts in ONE task
    naive = (
        docs.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(1))).alias("epoch"),
        )
        .select(
            "epoch",
            "doc_id",
            _shuffle_key(F.col("doc_id"), F.col("epoch")).alias("k"),
        )
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("epoch").orderBy("k", "doc_id")
            ).cast("int"),
        )
        .select("epoch", "doc_id", "pos")
    )

    t0 = time.time()
    naive_sum = checksum(naive)
    t_naive = time.time() - t0

    t0 = time.time()
    two_level_sum = checksum(epoch_shuffle_positions(docs))
    t_two = time.time() - t0

    # bit-identical positions (same relation, order-free checksum)
    assert tuple(two_level_sum) == tuple(naive_sum)
    # the parallel shape must actually win at this scale — this is the
    # justification for the 2x sf0.1 cost the round-6 change accepted
    print(f"epoch_shuffle 200x: naive={t_naive:.1f}s two_level={t_two:.1f}s")
    assert t_two < t_naive, (
        f"two-level rank ({t_two:.1f}s) did not beat the naive "
        f"single-task sort ({t_naive:.1f}s) at 200x"
    )
