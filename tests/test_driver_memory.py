"""session.driver_memory: the default spark.driver.memory, from fixed
/proc/meminfo text."""

from __future__ import annotations

import pytest

from kgraph_spark.session import driver_memory

MEMINFO = """MemTotal:       16456384 kB
MemFree:         1203364 kB
MemAvailable:   15867748 kB
Buffers:          123456 kB
"""


@pytest.mark.parametrize(
    "meminfo, want",
    [
        # 15,495 MB available → half is 7,747 MB → 7,680 MB (30 × 256)
        (MEMINFO, "7680m"),
        # exactly 4 GB available → 2 GB
        ("MemAvailable:    4194304 kB\n", "2048m"),
        # 1,500 MB available → 750 MB is under the 1 GB floor
        ("MemAvailable:    1536000 kB\n", "1024m"),
        # no MemAvailable line (or no /proc/meminfo at all) → the floor
        ("MemTotal:       16456384 kB\n", "1024m"),
        ("", "1024m"),
    ],
)
def test_driver_memory_is_half_of_available(meminfo, want):
    assert driver_memory(meminfo) == want
