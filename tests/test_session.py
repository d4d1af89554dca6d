"""Session construction helpers that need no Spark."""

from __future__ import annotations

from differential_dataflow_spark import session


def _host(monkeypatch, gib: float) -> None:
    pages = int(gib * 2**30) // 4096
    sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": pages}
    monkeypatch.setattr(session.os, "sysconf", lambda name: sizes[name])


def test_driver_memory_defaults_to_half_of_physical_memory(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    _host(monkeypatch, 15.7)
    assert session.driver_memory() == "7g"
    _host(monkeypatch, 64)
    assert session.driver_memory() == "32g"
    _host(monkeypatch, 1)
    assert session.driver_memory() == "1g"


def test_driver_memory_env_overrides(monkeypatch):
    _host(monkeypatch, 15.7)
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert session.driver_memory() == "3g"
