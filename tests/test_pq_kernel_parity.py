"""Pin pq_adc_topk's Arrow scoring kernel to the DuckDB oracle.

The kernel (a vectorized numpy ``mapInPandas`` pass, the only scoring
path) promises the oracle's seeded-left-fold IEEE op order, its argmin
tie-breaks (lowest codeword index) and its rank tie-breaks.  The
round-8 verdict flagged that the kernel became the default AFTER the
entry's last recorded correctness check verified an earlier path, with
no parity pin in the tree — this is that pin: the ``ann_pq_topk``
registry query against its DuckDB oracle at the correctness scale
factor, in the default lane (the sampled oracle lane does not reach
it).
"""

from __future__ import annotations

from gtfs_realtime_etl_spark.testing import compare_to_oracle
from tests.conftest import SF_CORRECTNESS


def test_pq_adc_kernel_matches_oracle(spark):
    res = compare_to_oracle(spark, "ann_pq_topk", SF_CORRECTNESS)
    assert res.spark_rows > 0
    assert res.ok, (res.notes, res.max_abs_delta)
