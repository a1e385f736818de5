from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from windflow_spark import get_spark

    s = get_spark("windflow-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture
def no_cached_lineage(spark):
    """Plan text depends on the session's cache: a frame persisted by an
    earlier test renders as a cached-lineage scan. Plan-test modules start
    every test from an empty cache via ``pytestmark``."""
    spark.catalog.clearCache()
