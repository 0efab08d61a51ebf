"""``SPARK_GRAFT_CPUS`` parsing: unset means the host's usable cores,
and a malformed core count fails fast instead of silently falling back
to that default."""

from __future__ import annotations

import os

import pytest

from gtfs_realtime_etl_spark.session import spark_graft_cpus


def test_cpus_default_and_positive_integer(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert spark_graft_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    assert spark_graft_cpus() == 4


@pytest.mark.parametrize("raw", ["", "0", "-4", "4.0", " 4", "four", "local[4]"])
def test_cpus_malformed_raises_naming_the_variable(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        spark_graft_cpus()
