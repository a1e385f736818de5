"""Streaming throughput micro-benchmark (single node, availableNow replay).

The reference's published evaluations are single-node streaming throughput
(multi-Mtuples/s-class, BASELINE.md §1 — not reproducible from its repo).
This tool produces the comparable number for this engine: N synthetic
keyed events are written to parquet once, then replayed through Structured
Streaming pipelines with an availableNow trigger (bounded replay = the
reference's finite-stream test harness shape):

  stateless   filter + arithmetic projection            (no state)
  window      watermark + keyed 1s tumbling aggregation (windowed state)
  reduce      per-key running fold via applyInPandasWithState (custom state)
  sketch      Misra-Gries heavy hitters, 16 buckets x 32 counters (constant state)
  ohlc        per-key 1s OHLC bar building (one open bar per key, constant state)
  holt        per-key 1s Holt level+trend smoothing (2 longs + 2 doubles per key)
  debounce    per-key burst suppression, 1.5s gap (one long per key)
  hysteresis  per-key two-threshold alert latch, 1s buckets (3 longs per key)
  space_saving per-key top-32 space-saving heavy hitters (k counters per key)
  asof        bounded-lookback streaming as-of join, 1s lookback
              (watermark-purged per-key quote buffer)
  kmv         per-key KMV distinct sketch, k=64 (k hashes per key)
  page_hinkley per-key Page-Hinkley drift monitor, 1s buckets
              (open bucket + 4 recursion scalars per key)

Each pipeline is replayed ``REPLAYS`` times, each replay on a fresh
checkpoint: one replay is a single data batch, and replays of the same
code differ by up to 40 %. Prints one JSON line: per pipeline the median
rows/sec over the replays (``<name>_rows_per_sec``) and their spread,
(max - min) / median (``<name>_spread``).

Runs on local[$SPARK_GRAFT_CPUS], or on as many cores as this process may
use when that is unset.

Usage: python tools/stream_bench.py [n_rows] (default 5_000_000)
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPLAYS = 3


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000
    from pyspark.sql import functions as F

    from windflow_spark import get_spark
    from windflow_spark.streaming import file_stream

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    spark = get_spark("stream-bench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="stream_bench_")
    src = os.path.join(work, "src")
    data = (
        spark.range(0, n, 1, 32)
        .select(
            (F.col("id") % 1000).alias("key"),
            (F.col("id") % 97).cast("double").alias("value"),
            F.timestamp_micros(F.col("id") * 1000).alias("ts"),
        )
    )
    data.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def replay(label: str, build, r: int) -> float:
        stream = file_stream(spark, src, schema)
        out = build(stream)
        ckpt = os.path.join(work, f"ckpt_{label}_{r}")
        t0 = time.time()
        # window agg needs update mode; stateless + applyInPandasWithState
        # (declared Append) need append
        mode = "update" if label == "window" else "append"
        q = (
            out.writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return n / (time.time() - t0)

    results = {"replays": REPLAYS}

    def run(label: str, build) -> None:
        rates = [replay(label, build, r) for r in range(REPLAYS)]
        mid = statistics.median(rates)
        results[f"{label}_rows_per_sec"] = round(mid)
        results[f"{label}_spread"] = round((max(rates) - min(rates)) / mid, 3)

    run(
        "stateless",
        lambda s: s.filter(F.col("value") >= 1).select(
            "key", (F.col("value") * 2 + 1).alias("v2"), "ts"
        ),
    )

    from windflow_spark.streaming import streaming_tumbling_window_tb

    run(
        "window",
        lambda s: streaming_tumbling_window_tb(
            s, ["key"], "ts", 1_000_000,
            [F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv")],
        ),
    )

    from windflow_spark.streaming import streaming_rolling_reduce

    run(
        "reduce", lambda s: streaming_rolling_reduce(s, ["key"], "ts", "value")
    )

    from windflow_spark.streaming import streaming_heavy_hitters

    run(
        "sketch",
        lambda s: streaming_heavy_hitters(
            s.select(F.concat(F.lit("k"), F.col("key")).alias("token")),
            "token",
            capacity=32,
            n_buckets=16,
        ),
    )

    from windflow_spark.streaming import streaming_ohlc

    run(
        "ohlc",
        lambda s: streaming_ohlc(
            s.select(
                F.concat(F.lit("k"), F.col("key")).alias("key"),
                F.unix_micros("ts").alias("us"),
                F.col("value").alias("v"),
            ),
            "key",
            "v",
            1_000_000,
        ),
    )

    from windflow_spark.streaming import streaming_holt

    run(
        "holt",
        lambda s: streaming_holt(
            s.select(
                F.concat(F.lit("k"), F.col("key")).alias("key"),
                F.unix_micros("ts").alias("us"),
            ),
            "key",
            1_000_000,
        ),
    )

    from windflow_spark.streaming import streaming_debounce

    run(
        "debounce",
        lambda s: streaming_debounce(
            s.select(
                F.concat(F.lit("k"), F.col("key")).alias("key"),
                F.unix_micros("ts").alias("us"),
            ),
            ["key"],
            1_500_000,  # 1.5s gap vs 1ms cadence x 1000 keys -> ~1s bursts
        ),
    )

    from windflow_spark.streaming import streaming_alert_hysteresis

    run(
        "hysteresis",
        lambda s: streaming_alert_hysteresis(
            s.select(
                F.concat(F.lit("k"), F.col("key")).alias("key"),
                F.unix_micros("ts").alias("us"),
            ),
            "key",
            1_000_000,
            hi=1.2,
            lo=0.8,
        ),
    )

    from windflow_spark.streaming import streaming_space_saving

    run(
        "space_saving",
        lambda s: streaming_space_saving(
            s.select(
                (F.col("key") % 64).alias("key"),
                F.concat(F.lit("i"), (F.unix_micros("ts") % 997).cast("long")).alias(
                    "item"
                ),
                F.unix_micros("ts").alias("us"),
                F.lit(False).alias("eos"),
            ),
            "key",
            "item",
            "us",
            k=32,
        ),
    )

    from windflow_spark.streaming import streaming_asof_join_backward_bounded

    def _asof(s):
        w = s.select(
            "key",
            F.unix_micros("ts").alias("us"),
            F.unix_micros("ts").alias("id"),
            F.col("value").alias("val"),
            F.lit(False).alias("eos"),
            (F.unix_micros("ts") % 2).alias("side"),
        )
        return streaming_asof_join_backward_bounded(
            w.filter(F.col("side") == 0),
            w.filter(F.col("side") == 1),
            "key",
            "us",
            "us",
            "id",
            "id",
            "val",
            lookback_us=1_000_000,
            watermark_us=1_000_000,
        )

    run("asof", _asof)

    from windflow_spark.streaming import streaming_kmv_distinct

    run(
        "kmv",
        lambda s: streaming_kmv_distinct(
            s.select(
                (F.col("key") % 16).alias("key"),
                F.concat(F.lit("u"), (F.unix_micros("ts") % 4093).cast("long")).alias(
                    "item"
                ),
                F.lit(False).alias("eos"),
            ),
            "key",
            "item",
            k=64,
        ),
    )

    from windflow_spark.streaming import streaming_page_hinkley

    run(
        "page_hinkley",
        lambda s: streaming_page_hinkley(
            s.select(
                F.concat(F.lit("k"), (F.col("key") % 64)).alias("key"),
                F.unix_micros("ts").alias("us"),
                F.col("value").alias("v"),
            ),
            "key",
            1_000_000,
        ),
    )

    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"metric": "stream_throughput", "n_rows": n, **results}))


if __name__ == "__main__":
    main()
