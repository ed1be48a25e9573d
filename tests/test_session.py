"""session.driver_memory: the driver heap a launched session asks for,
checked without starting a JVM."""

from __future__ import annotations

import os

from reduction_dask_spark.session import driver_memory

GIB = 1 << 30


def _host(monkeypatch, phys_bytes: int) -> None:
    page = 4096
    sizes = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": phys_bytes // page}
    monkeypatch.setattr(os, "sysconf", sizes.__getitem__)


def test_half_of_a_small_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    _host(monkeypatch, 15 * GIB)
    assert driver_memory() == f"{15 * 1024 // 2}m"


def test_capped_at_16g_on_a_large_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    _host(monkeypatch, 256 * GIB)
    assert driver_memory() == "16384m"


def test_env_wins(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    _host(monkeypatch, 256 * GIB)
    assert driver_memory() == "2g"
