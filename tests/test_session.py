"""Session defaults that must fit the host they start on."""

from __future__ import annotations

import os

from evidence_images_etl_airflow_spark.session import _driver_memory


def test_driver_memory_default_fits_host_and_override_wins(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    mem = _driver_memory()
    assert mem.endswith("m")
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < int(mem[:-1]) << 20 <= phys // 2
    assert int(mem[:-1]) <= 32 << 10

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert _driver_memory() == "3g"
