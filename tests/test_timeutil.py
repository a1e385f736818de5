"""Operators accept BOTH Spark timestamp flavors (operators/timeutil.py).

Round 3's driver regression: testdata began inferring TIMESTAMP_NTZ and
every unix_micros-based operator failed at analysis time. The loader
normalizes its own tables; these tests pin that the OPERATORS also work on
NTZ frames a user hands them directly — with identical results, and
independent of the session timezone (an NTZ→LTZ cast would shift values)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F


def _frames(spark):
    rows = [
        (1, 10.0, dt.datetime(2024, 1, 1, 0, 30)),
        (1, 20.0, dt.datetime(2024, 1, 1, 1, 15)),
        (2, 5.0, dt.datetime(2024, 1, 1, 0, 45)),
        (2, 7.0, dt.datetime(2024, 1, 1, 3, 10)),
    ]
    ltz = spark.createDataFrame(rows, "key long, value double, ts timestamp")
    ntz = spark.createDataFrame(rows, "key long, value double, ts timestamp_ntz")
    return ltz, ntz


def test_tumbling_window_accepts_ntz(spark):
    from windflow_spark.operators.windows import tumbling_window_tb

    ltz, ntz = _frames(spark)
    aggs = [F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv")]
    HOUR = 3_600_000_000
    want = sorted(
        (r.key, r.w_start, r.cnt, r.sv)
        for r in tumbling_window_tb(ltz, ["key"], "ts", HOUR, aggs).collect()
    )
    got = sorted(
        (r.key, r.w_start, r.cnt, r.sv)
        for r in tumbling_window_tb(ntz, ["key"], "ts", HOUR, aggs).collect()
    )
    assert got == want and len(got) == 4


@pytest.mark.parametrize(
    "join", ["interval_join", "interval_join_bucketed", "interval_join_full_bucketed"]
)
def test_interval_join_accepts_ntz(spark, join):
    import importlib

    # by path: windflow_spark.operators binds `interval_join` to the function
    mod = importlib.import_module("windflow_spark.operators.interval_join")
    fn = getattr(mod, join)
    ltz, ntz = _frames(spark)
    HOUR = 3_600_000_000
    want = sorted(map(tuple, fn(ltz, ltz, ["key"], "ts", "ts", 0, HOUR).collect()))
    got = sorted(map(tuple, fn(ntz, ntz, ["key"], "ts", "ts", 0, HOUR).collect()))
    assert got == want and len(got) > 0


def test_event_micros_is_session_tz_independent(spark):
    """The NTZ branch must read the naive wall clock AS UTC regardless of
    spark.sql.session.timeZone (a cast would shift it)."""
    from windflow_spark.operators.timeutil import event_micros

    _, ntz = _frames(spark)
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        utc = [r.us for r in ntz.select(event_micros(ntz, "ts").alias("us")).collect()]
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")  # +5:30
        kol = [r.us for r in ntz.select(event_micros(ntz, "ts").alias("us")).collect()]
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert utc == kol
    assert utc[0] == int(dt.datetime(2024, 1, 1, 0, 30, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
