"""The test session's driver heap is derived from host RAM (conftest)."""

from __future__ import annotations

from tests.conftest import driver_heap

GIB = 1 << 30


def test_heap_is_share_of_ram_on_small_host():
    # 16 GiB host: 40% of RAM, well under what the machine has
    assert driver_heap(16 * GIB) == f"{int(16 * 1024 * 0.4)}m"


def test_heap_capped_at_20g_on_large_hosts():
    for ram_gib in (50, 64, 256):
        assert driver_heap(ram_gib * GIB) == f"{20 * 1024}m"


def test_soak_child_heap_is_host_share_capped_at_6g():
    # test_soak_chaos sizes its child JVMs with this rule
    assert driver_heap(8 * GIB, cap_mb=6 * 1024) == f"{int(8 * 1024 * 0.4)}m"
    assert driver_heap(64 * GIB, cap_mb=6 * 1024) == f"{6 * 1024}m"
