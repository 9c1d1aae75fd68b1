"""Session defaults fit the host they run on."""

import os

from ab_metadata_pusher_spark.session import (
    DEFAULT_CONFIG, default_driver_memory,
)


def _gib(setting: str) -> int:
    assert setting.endswith("g"), setting
    return int(setting[:-1])


def test_default_driver_heap_fits_physical_memory():
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap = _gib(default_driver_memory())
    assert 1 <= heap <= 48
    assert heap * 2 ** 30 <= max(phys, 2 ** 30)
    if "SPARK_GRAFT_DRIVER_MEM" not in os.environ:
        assert DEFAULT_CONFIG["spark.driver.memory"] == default_driver_memory()


def test_default_driver_heap_caps_at_48g(monkeypatch):
    monkeypatch.setattr(os, "sysconf", lambda name: 2 ** 40 if
                        name == "SC_PHYS_PAGES" else 4096)  # 4 PiB host
    assert default_driver_memory() == "48g"
