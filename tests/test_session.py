"""``SPARK_GRAFT_CPUS`` parsing: a malformed core count fails fast
instead of silently falling back to the 32-core default."""

from __future__ import annotations

import pytest

from gtfs_realtime_etl_spark.session import spark_graft_cpus


def test_cpus_default_and_positive_integer(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert spark_graft_cpus() == 32
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    assert spark_graft_cpus() == 4


@pytest.mark.parametrize("raw", ["", "0", "-4", "4.0", " 4", "four", "local[4]"])
def test_cpus_malformed_raises_naming_the_variable(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        spark_graft_cpus()
