"""Round-7 continuation opt-in scale probes (SPARK_GRAFT_SCALE_SMOKE=1)
for the fourteenth/fifteenth banks:

1. mahalanobis_outliers at 20x embeddings (2.56M vectors, ~164M
   exploded terms): a planted extreme vector must rank first, and the
   whole pass must stay one-scan/one-broadcast shaped (wall bound).
2. auc_score and hazard_table replication invariance: both statistics
   are RATIOS of counts, so a 20x row replication must leave auc_ppm
   and every hazard_ppm bit-identical while the counts scale by
   exactly 20 — the property that makes the integer formulations safe
   to shard: partial aggregates from any split combine to the same
   ratios.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

scale = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SCALE_SMOKE"),
    reason="opt-in: SPARK_GRAFT_SCALE_SMOKE=1 runs the round-7b scale smokes",
)

SF_DIR = "/root/testdata/sf0.1"


@pytest.mark.scale_smoke
@scale
def test_mahalanobis_20x_plants_outlier_first(spark):
    from gtfs_realtime_etl_spark.plans.analytics10 import mahalanobis_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    dims = len(emb.select("embedding").head()[0])
    big = (
        emb.crossJoin(spark.range(20).select(F.col("id").alias("rep")))
        .select(
            (F.col("vec_id") * 100 + F.col("rep") + 1).alias("vec_id"),
            "label",
            "embedding",
        )
    )
    planted = spark.range(1).select(
        F.lit(0).cast(big.schema["vec_id"].dataType).alias("vec_id"),
        F.lit(-1).cast(big.schema["label"].dataType).alias("label"),
        F.array(*[F.lit(10.0).cast("float") for _ in range(dims)]).alias(
            "embedding"
        ),
    )
    t0 = time.perf_counter()
    rows = mahalanobis_topk(big.unionByName(planted)).collect()
    wall = time.perf_counter() - t0
    assert rows[0].vec_id == 0 and rows[0].label == -1
    assert rows[0].d2_micro > rows[1].d2_micro
    # one explode scan + 64-row broadcast + one group shuffle at 2.56M
    # vectors — minutes would mean a quadratic sneaked in.
    assert wall < 120, f"mahalanobis 20x took {wall:.1f}s"


@pytest.mark.scale_smoke
@scale
def test_auc_and_hazard_replication_invariance(spark):
    """20x-replicated lineitem must leave auc_ppm / hazard_ppm
    bit-identical (ratio statistics), with counts scaled exactly 20x."""
    from gtfs_realtime_etl_spark.plans.analytics10 import q_auc_score
    from gtfs_realtime_etl_spark.plans.analytics11 import q_hazard_table
    from gtfs_realtime_etl_spark.sources import testdata as td

    base_auc = {r.l_linestatus: r for r in q_auc_score(spark, SF_DIR).collect()}
    base_hz = {r.delay: r for r in q_hazard_table(spark, SF_DIR).collect()}

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    big_li = li.crossJoin(spark.range(20).select(F.col("id").alias("rep"))).drop(
        "rep"
    )
    orig_load = td.load_testdata

    def patched(spark_, sf_dir_, *names):
        tabs = orig_load(spark_, sf_dir_, *names)
        return [big_li if n == "lineitem" else df for n, df in zip(names, tabs)]

    td_patch = patched
    import gtfs_realtime_etl_spark.plans.analytics10 as a10
    import gtfs_realtime_etl_spark.plans.analytics11 as a11

    try:
        a10.load_testdata = td_patch
        a11.load_testdata = td_patch
        t0 = time.perf_counter()
        big_auc = {
            r.l_linestatus: r for r in q_auc_score(spark, SF_DIR).collect()
        }
        big_hz = {r.delay: r for r in q_hazard_table(spark, SF_DIR).collect()}
        wall = time.perf_counter() - t0
    finally:
        a10.load_testdata = orig_load
        a11.load_testdata = orig_load

    assert set(big_auc) == set(base_auc)
    for ls, b in base_auc.items():
        g = big_auc[ls]
        assert g.n_pos == 20 * b.n_pos and g.n_neg == 20 * b.n_neg
        assert g.auc_ppm == b.auc_ppm
        assert g.u2 == 400 * b.u2
    assert set(big_hz) == set(base_hz)
    for d, b in base_hz.items():
        g = big_hz[d]
        assert g.d_i == 20 * b.d_i and g.n_i == 20 * b.n_i
        assert g.hazard_ppm == b.hazard_ppm
    assert wall < 180, f"20x auc+hazard took {wall:.1f}s"
