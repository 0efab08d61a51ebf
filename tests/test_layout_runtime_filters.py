"""Runtime-filter scale levers, verified physically:

- dynamic partition pruning: a join against a filtered dim prunes the
  hive-partitioned lake's partitions at runtime;
- runtime Bloom-filter semi-join reduction: Spark injects a
  bloom_filter probe on the big side of a shuffle join when the small
  side is selective (thresholds lowered to demo scale).
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import functions as F


def test_dynamic_partition_pruning_on_lake(spark, tmp_path):
    """Joining the day-partitioned lake against a filtered dim must
    plan a dynamicpruning expression on the partition column — at
    100 TB this is the difference between scanning 3 days and 3 years."""
    fact = spark.range(0, 5_000).select(
        F.col("id"),
        (F.col("id") % 30).cast("int").alias("day"),
        (F.col("id") * 7 % 100).alias("value"),
    )
    path = str(tmp_path / "fact")
    fact.write.partitionBy("day").mode("overwrite").parquet(path)

    dim = spark.createDataFrame(
        [(d, "keep" if d < 3 else "drop") for d in range(30)], ["day", "tag"]
    )
    joined = (
        spark.read.parquet(path)
        .join(dim.where(F.col("tag") == "keep"), "day")
        .groupBy("day")
        .agg(F.sum("value").alias("total"))
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain(True)
    plan = buf.getvalue()
    assert re.search(r"dynamicpruning", plan, re.IGNORECASE), plan
    assert joined.count() == 3


def test_runtime_bloom_filter_injection(spark, tmp_path):
    """With broadcast off (both sides 'big'), a selective small side
    should inject a bloom_filter probe into the big side's scan —
    Spark's runtime semi-join reduction.  Thresholds are lowered to
    demo scale; at production size the defaults (10 MB creation side)
    apply unchanged."""
    big = spark.range(0, 200_000).select(
        F.col("id").alias("k"), (F.col("id") % 997).alias("v")
    )
    small = spark.range(0, 50_000).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("tag")
    )
    bpath, spath = str(tmp_path / "big"), str(tmp_path / "small")
    big.write.mode("overwrite").parquet(bpath)
    small.write.mode("overwrite").parquet(spath)

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        joined = (
            spark.read.parquet(bpath)
            .join(
                spark.read.parquet(spath).where(F.col("tag") == 0),
                "k",
            )
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain(True)
        plan = buf.getvalue()
        assert "bloom_filter" in plan or "BloomFilter" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
