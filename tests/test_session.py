"""The session's default driver heap fits the host."""

from __future__ import annotations

import os

import pytest

from log_analysis_ai_spark import session

PHYS_BYTES = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")


def _mb(size: str) -> int:
    assert size.endswith("m"), size
    return int(size[:-1])


def test_default_driver_memory_fits_physical_memory():
    assert 0 < _mb(session.default_driver_memory()) << 20 <= PHYS_BYTES


@pytest.mark.parametrize("usable_mb", [256, 1024, 3000, 15_000, 1 << 20])
def test_default_driver_memory_rule(monkeypatch, usable_mb):
    """A quarter of the usable memory, at least 1 GiB when half the usable
    memory allows it — never more than half of what the host can give."""
    monkeypatch.setattr(session, "_usable_memory_bytes", lambda: usable_mb << 20)
    heap = _mb(session.default_driver_memory())
    assert heap <= usable_mb // 2
    assert heap == max(usable_mb // 4, min(1024, usable_mb // 2))


def test_session_driver_memory_fits_physical_memory(spark):
    if os.environ.get("SPARK_DRIVER_MEM"):
        pytest.skip("SPARK_DRIVER_MEM overrides the default")
    conf = spark.sparkContext.getConf().get("spark.driver.memory")
    assert _mb(conf) << 20 <= PHYS_BYTES
