"""Plan construction cost, pinned in py4j round trips.

Building a query is a chain of py4j calls from Python to the JVM, about
0.45 ms each; on sub-second queries that cost is a floor under every
invocation. The session turns off PySpark's per-Column call-site capture
(``spark.python.sql.dataFrameDebugging.enabled=false``, see
``windflow_spark.session``), which otherwise adds about five round trips
to every ``F.*`` function and ``Column`` operator. The counts below are
exact and repeat run to run; a change that adds round trips to these
constructors must re-pin them on purpose.
"""

from __future__ import annotations

import os

import pytest

from windflow_spark.queries import QUERIES
from windflow_spark.util import count_py4j_calls, release_cache


@pytest.fixture(scope="module")
def sf001_dir(sf_dir):
    return os.path.join(os.path.dirname(sf_dir), "sf0.01")


def test_call_site_capture_is_off(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert is_debugging_enabled() is False


@pytest.mark.parametrize(
    "name,calls",
    [
        ("filter_events", 27),
        ("q22_idle_customers", 70),
        ("interval_join_bucketed", 147),
    ],
)
def test_construct_round_trips(spark, sf001_dir, name, calls):
    fn = QUERIES[name]
    fn(spark, sf001_dir)  # warm: first-use lookups happen once per session
    _, n = count_py4j_calls(spark, lambda: fn(spark, sf001_dir))
    assert n == calls


def test_kendall_leaves_no_persisted_rdd(spark, sf001_dir):
    release_cache(spark)
    QUERIES["kendall_tau_qty_discount"](spark, sf001_dir).write.format(
        "noop"
    ).mode("overwrite").save()
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
