"""Session defaults that depend on the host."""

from dpe_energy_performance_analysis_etl_spark import session


def _host_ram(monkeypatch, gib):
    conf = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * 2**30 // 4096}
    monkeypatch.setattr(session.os, "sysconf", conf.__getitem__)


def test_driver_memory_is_three_quarters_of_a_small_host(monkeypatch):
    _host_ram(monkeypatch, 16)
    assert session.default_driver_memory() == "12288m"


def test_driver_memory_stays_16g_on_a_large_host(monkeypatch):
    _host_ram(monkeypatch, 64)
    assert session.default_driver_memory() == "16384m"
