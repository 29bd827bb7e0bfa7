"""session.get_spark's defaults that need no SparkSession to check."""

from __future__ import annotations

from fuzzy_item_matching_spark import session


def test_driver_memory_is_half_ram_capped_at_48g(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    conf = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 15 * 2**30 // 4096}
    monkeypatch.setattr(session.os, "sysconf", conf.__getitem__)
    assert session._driver_memory() == "7680m"
    conf["SC_PHYS_PAGES"] = 512 * 2**30 // 4096
    assert session._driver_memory() == "49152m"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session._driver_memory() == "3g"
