import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _default_driver_mem() -> str:
    """Half of physical memory, capped at the package's 16g default: a
    16g heap on a 16 GB host gets the test JVM killed by the kernel."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(16, phys // 2 // 2**30))}g"


os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem())


@pytest.fixture(scope="session")
def spark():
    from mit_mapreduce_spark.session import get_spark

    s = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")),
                  shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
