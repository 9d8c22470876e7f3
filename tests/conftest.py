from __future__ import annotations

import os

import pytest

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_MED = "/root/testdata/sf0.01"


# the whole suite (~800 tests, thousands of stages) shares ONE JVM, and
# localCheckpoint blocks and broadcast variables are reclaimed only on
# driver GC (ContextCleaner), so the heap grows until a full GC.  A fixed
# 20g heap on a 15.7 GiB host let it grow until the kernel OOM-killed the
# JVM, and every later Spark test failed with Connection refused.  The
# heap is therefore a share of physical RAM that leaves room for:
#   - the session JVM's native overhead (RSS ~1.5 GB above -Xmx);
#   - test_soak_chaos's child JVM (the same rule capped at 6g, ~3.5 GB
#     RSS), which runs while the session JVM is alive;
#   - pytest and the Python workers (~1 GB).
# Capped at 20g, the heap large hosts used before (a 32-core full-suite
# run once exhausted a heap under 8g).
DRIVER_HEAP_RAM_FRACTION = 0.4
DRIVER_HEAP_CAP_MB = 20 * 1024


def driver_heap(phys_bytes: int, cap_mb: int = DRIVER_HEAP_CAP_MB) -> str:
    """Driver heap (a ``spark.driver.memory`` value) for a host with
    ``phys_bytes`` of physical RAM, at most ``cap_mb``."""
    mb = min(int(phys_bytes * DRIVER_HEAP_RAM_FRACTION) >> 20, cap_mb)
    return f"{mb}m"


def host_ram() -> int:
    """Physical RAM of this host, in bytes."""
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


@pytest.fixture(scope="session")
def spark():
    from ton_indexer_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", driver_heap(host_ram()))
    s = get_spark(app_name="ton_indexer_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory):
    """Shared TON-schema fixture — generated once per test session."""
    from tests.fixture_gen import generate

    return generate(str(tmp_path_factory.mktemp("ton_fixture")))
