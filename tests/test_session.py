"""Session defaults fit the machine: the local driver heap stays below
physical memory, so the one local JVM is not OOM-killed mid-suite."""

from __future__ import annotations

import os

from mitoscape_spark.session import default_driver_memory

UNITS = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}


def _bytes(size: str) -> int:
    size = size.strip().lower().removesuffix("b")
    return int(size[:-1]) * UNITS[size[-1]] if size[-1] in UNITS else int(size)


def _physical_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def test_default_heap_below_physical_memory():
    heap = _bytes(default_driver_memory())
    assert 2**30 <= heap < _physical_bytes()
    # about half: the nearest whole GiB to half of physical memory
    assert heap == 2**30 or abs(heap - _physical_bytes() / 2) <= 2**29


def test_session_heap_below_physical_memory(spark):
    heap = spark.sparkContext.getConf().get("spark.driver.memory", "1g")
    assert _bytes(heap) < _physical_bytes()
