"""Session sizing: defaults come from the host, not from cluster constants."""

import os

from redeye_spark.session import driver_memory


def _host_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20


def test_default_driver_heap_fits_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    mem = driver_memory()
    assert mem.endswith("m")
    assert 0 < int(mem[:-1]) <= min(48 * 1024, _host_mb())


def test_driver_heap_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"


def test_live_session_heap_fits_host(spark):
    max_heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    assert max_heap <= _host_mb() * 2**20
