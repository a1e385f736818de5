"""Each whole-stage-codegen class is compiled once per session.

``get_spark`` sizes Spark's generated-class cache
(``spark.sql.codegen.cache.maxEntries``, 100 by default) to hold every
class the registry compiles (``windflow_spark.session``). The compile
counts come from a fresh session in a child process, because the test
session's cache already holds whatever earlier tests compiled: there the
first invocation of a query may compile nothing.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import SparkSession

from windflow_spark import get_spark
from windflow_spark.session import CODEGEN_CACHE_ENTRIES

CACHE_KEY = "spark.sql.codegen.cache.maxEntries"
# Three sub-second registry queries, checked on their second invocation ...
CHECKED = ["filter_events", "q22_idle_customers", "interval_join_bucketed"]
# ... after these seven: the ten sub-second queries compile more classes
# between the two invocations than Spark's default cache holds.
BETWEEN = [
    "scalar_subquery_above_avg",
    "sample_token_budget",
    "rank_top3_per_segment",
    "split_route_counts",
    "ts_peak_detect_daily",
    "percentile_disc_battery",
    "kendall_tau_qty_discount",
]


def test_get_spark_sizes_the_codegen_cache(spark):
    assert spark.conf.get(CACHE_KEY) == str(CODEGEN_CACHE_ENTRIES)


def test_every_master_gets_the_size_and_extra_conf_overrides_it(monkeypatch):
    # the options the builder would start a session with
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda b: dict(b._options))
    for master in ("local[2]", "spark://host:7077", "yarn"):
        assert get_spark(master=master)[CACHE_KEY] == str(CODEGEN_CACHE_ENTRIES)
    assert get_spark(master="yarn", extra_conf={CACHE_KEY: "64"})[CACHE_KEY] == "64"


def _compiles_per_invocation(sf_dir: str) -> dict[str, list[int]]:
    """Classes compiled by each invocation (a noop write) of the CHECKED
    queries, first and second, in a fresh session."""
    from windflow_spark.queries import QUERIES
    from windflow_spark.util import count_codegen_compiles, release_cache

    spark = get_spark("codegen-cache-test", master="local[2]", shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")

    def invoke(name):
        release_cache(spark)
        df = QUERIES[name](spark, sf_dir)
        return count_codegen_compiles(
            spark, lambda: df.write.mode("overwrite").format("noop").save()
        )[1]

    counts = {name: [invoke(name)] for name in CHECKED}
    for name in BETWEEN:
        invoke(name)
    for name in CHECKED:
        counts[name].append(invoke(name))
    spark.stop()
    return counts


@pytest.fixture(scope="module")
def compiles(sf_dir, tmp_path_factory):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])),
        SPARK_DRIVER_MEMORY="1g",
        SPARK_GRAFT_WAREHOUSE=str(tmp_path_factory.mktemp("warehouse")),
    )
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), sf_dir],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("name", CHECKED)
def test_first_invocation_compiles(compiles, name):
    assert compiles[name][0] > 0


@pytest.mark.parametrize("name", CHECKED)
def test_second_invocation_compiles_nothing(compiles, name):
    assert compiles[name][1] == 0


if __name__ == "__main__":
    print(json.dumps(_compiles_per_invocation(sys.argv[1])))
