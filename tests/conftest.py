from __future__ import annotations

import os

import pytest

from pipelines_spark.session import get_spark

# the test JVM's heap by the benchmark harness's rule: a quarter of
# physical memory, at least 1g and at most 3g (get_spark's own default
# is sized for a dedicated driver host, not a shared test machine)
_PHYS_GIB = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{max(1, min(3, int(_PHYS_GIB // 4)))}g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pipelines_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_small():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_medium():
    return "/root/testdata/sf0.01"
