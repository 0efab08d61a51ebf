"""Semantic invariants of the twentieth bank (Poisson bootstrap CI) —
exact pure-Python replica on the same data, plus the statistical sanity
the hash gate can't express (CI brackets the point estimate)."""

from __future__ import annotations

import math
from collections import defaultdict

from gtfs_realtime_etl_spark.plans.analytics16 import (
    BOOT_B,
    BOOT_THRESHOLDS,
    _H40_SPACE,
    q_bootstrap_ci,
)
from gtfs_realtime_etl_spark.sources.testdata import load_testdata
from tests.conftest import SF_CORRECTNESS
from tests.test_analytics12 import _h40


def test_bootstrap_ci_matches_python_replica(spark):
    evs = (
        load_testdata(spark, SF_CORRECTNESS, "events")[0]
        .select("event_id", "event_type", "value")
        .collect()
    )
    rows = [
        (r.event_type, r.event_id, int(math.floor(r.value * 100 + 0.5)))
        for r in evs
    ]
    exact: dict = defaultdict(lambda: [0, 0])
    for et, _, c in rows:
        exact[et][0] += 1
        exact[et][1] += c
    acc: dict = defaultdict(lambda: [0, 0])  # (et, b) -> [sw, swc]
    for et, eid, c in rows:
        for b in range(BOOT_B):
            u = _h40(f"{eid}|{b}") / _H40_SPACE
            w = sum(1 for t in BOOT_THRESHOLDS if u >= t)
            if w:
                s = acc[(et, b)]
                s[0] += w
                s[1] += w * c
    means: dict = defaultdict(list)
    for (et, _), (sw, swc) in acc.items():
        means[et].append(float(swc) / float(sw))
    expected = {}
    for et, (n, sc) in exact.items():
        ms = sorted(means[et])
        expected[et] = (
            n,
            round(float(sc) / float(n), 6),
            round(ms[1], 6),
            round(ms[-2], 6),
            len(ms),
        )
    got = {
        r.event_type: (
            r.n,
            r.mean_cents,
            r.ci_lo_cents,
            r.ci_hi_cents,
            r.n_resamples,
        )
        for r in q_bootstrap_ci(spark, SF_CORRECTNESS).collect()
    }
    assert got == expected and len(got) > 0
    # The interval must bracket the point estimate, and every type must
    # have kept all B resamples at this scale.
    for n, mean, lo, hi, nb in got.values():
        assert lo <= mean <= hi
        assert nb == BOOT_B
