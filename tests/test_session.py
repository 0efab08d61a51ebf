"""``SPARK_GRAFT_CPUS`` and ``SPARK_DRIVER_MEMORY`` parsing: unset
means a default sized to the host, and a malformed value fails fast
instead of silently falling back to that default."""

from __future__ import annotations

import os

import pytest

from gtfs_realtime_etl_spark.session import driver_memory, spark_graft_cpus


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


def _fake_sysconf(phys_bytes):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_bytes // 4096}
    return lambda name: pages[name]


@pytest.mark.parametrize(
    ("phys_gib", "expected"),
    [(15, "7680m"), (96, "49152m"), (512, "49152m")],
)
def test_driver_memory_default_is_half_of_ram_capped(monkeypatch, phys_gib, expected):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    monkeypatch.setattr(os, "sysconf", _fake_sysconf(phys_gib * 2**30))
    assert driver_memory() == expected


def test_driver_memory_default_fits_this_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    heap_mb = int(driver_memory()[:-1])
    assert 0 < heap_mb < phys_mb


@pytest.mark.parametrize("raw", ["8192m", "16g", "48G", "512mb", "1t", "2048"])
def test_driver_memory_override(monkeypatch, raw):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", raw)
    assert driver_memory() == raw


@pytest.mark.parametrize("raw", ["", "g", "8.5g", "8 g", " 8g", "-8g", "8gib", "lots"])
def test_driver_memory_malformed_raises_naming_the_variable(monkeypatch, raw):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", raw)
    with pytest.raises(ValueError, match="SPARK_DRIVER_MEMORY"):
        driver_memory()
