from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from crawler_spark.plans.session import get_spark

    # local[N] comes from SPARK_GRAFT_CPUS, else the host's core count
    s = get_spark("crawler_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
