"""Session factory defaults that depend on the host."""

from __future__ import annotations

import os

import pytest

from data_and_analytics_etl_spark import session


def _phys_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") \
        // (1024 * 1024)


@pytest.mark.parametrize("phys_gb", [None, 1, 4, 15, 64, 256])
def test_default_driver_memory_fits_physical_memory(monkeypatch, phys_gb):
    # None = this host; the others fake the host's page count
    if phys_gb is not None:
        real = os.sysconf

        def fake(name):
            if name == "SC_PHYS_PAGES":
                return phys_gb * 1024 ** 3 // real("SC_PAGE_SIZE")
            return real(name)
        monkeypatch.setattr(session.os, "sysconf", fake)
    heap = session.default_driver_memory()
    assert heap.endswith("m"), heap
    heap_mb = int(heap[:-1])
    assert 0 < heap_mb <= _phys_mb() // 2
    assert heap_mb <= 32 * 1024


def test_get_spark_keeps_extra_conf(spark):
    # extra_conf is applied after the profile: a caller asking for
    # another shuffle width gets it, not the profile's 32
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    try:
        s = session.get_spark("daa-etl-spark-tests",
                              extra_conf={key: "2000"})
        assert s.conf.get(key) == "2000"
    finally:
        spark.conf.set(key, before)
    assert session.get_spark("daa-etl-spark-tests").conf.get(key) \
        == session.RUNTIME_CONF[key]
