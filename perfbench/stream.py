"""Open-loop streaming workload.

A Spark ``rate`` source (``windflow_spark.streaming.rate_stream``) stamps
every row with the time it was due and keeps to its schedule when the query
falls behind, so unread rows queue and each one's latency counts from when
it was due. The seed fixes the mapping of row numbers to the 1000 keys.
``stream_window`` feeds it into ``streaming_tumbling_window_tb`` (watermark,
append mode; the JVM aggregation state store) and the benchmark's
``foreachBatch`` sink, in three phases on one session. The session runs
without no-data micro-batches, so a window closes in the next batch that
reads rows (see ``NO_DATA_BATCHES``):

- ``lo``: a fixed low input rate, with latency measured from a window's
  last event (``max(ts)``) to the sink callback; one closed window is one
  sample;
- ``drain``: a seeded backlog, written to parquet beforehand, replayed
  through ``file_stream`` with ``availableNow``; its wall time is the
  workload's fixed unit of work. The first drain is untimed warm-up;
- ``hi``: as ``lo``, at about half the rate that saturates the pipeline.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from collections import defaultdict

import numpy as np

from perfbench.run import WORK, Result, beyond, median, percentile, stop_session, trace_path

KEYS = 1000
WINDOW_US = 100_000
# A sample later than this fails the run: the rates are chosen so that
# none comes near it.
LATENCY_LIMIT_S = 15.0
TAIL_Q = 0.75

# The rate source releases a whole second of rows per micro-batch. At LO a
# batch's trigger time is the engine's fixed per-batch cost; at HI it takes
# about 0.9 s of its 1 s interval. A batch takes the whole interval at about
# 3.2 M rows/s (the rate sweep in README.md).
LO_RATE = 4_000
HI_RATE = 1_600_000
BACKLOG_ROWS = 300_000
BACKLOG_FILES = 3
# A rate phase lasts --seconds (lo) or HI_SHARE of it (hi) after its first
# commit. Windows of its first RATE_WARMUP_S are not sampled: a new query
# takes a few seconds to work off the rows that queued behind its first,
# slow batches. It runs longer while its latency tail lacks samples (a
# window, one sample, closes every 100 ms), up to MAX_PHASE_S.
RATE_WARMUP_S = 5.0
HI_SHARE = 0.6
MAX_PHASE_S = 30.0
# The backlog is drained this many times, each by a fresh query, after
# WARMUP_DRAINS untimed ones; the median timed drain is the run's figure.
# The first drain of a session takes about half as long again as the later
# ones, which agree.
WARMUP_DRAINS = 1
DRAINS = 3
# With no-data micro-batches (Spark's default) a batch that moves the
# watermark is followed at once by a batch that only evicts the windows it
# closed. At LO the two together take about the whole 1 s interval of the
# rate source, so latency queued behind them and swung with small changes
# in per-batch cost, still falling 25 % between the 20th and the 40th
# second of a phase. Without them a window is emitted by the next batch
# that reads rows, and latency levels off within seconds.
NO_DATA_BATCHES = "false"


def key_map(seed: int) -> tuple[int, int]:
    """Seeded bijection row -> key: key = (row * a + b) mod KEYS."""
    rng = np.random.default_rng(seed)
    a = int(rng.choice([m for m in range(1, KEYS) if math.gcd(m, KEYS) == 1]))
    return a, int(rng.integers(0, KEYS))


class Sink:
    """The benchmark's foreachBatch sink: collects results, stamps arrival."""

    def __init__(self, warmup_s: float = 0.0):
        self.warmup_s = warmup_s
        self.first_commit: float | None = None
        self.latency_s: list[float] = []
        self.cnt_by_window: dict[int, int] = defaultdict(int)
        self.min_ts_us: int | None = None
        self.backlog_rows = 0.0
        self.callback_s: list[float] = []
        self.stopping = False

    def __call__(self, df, batch_id: int) -> None:
        try:
            rows = df.select("w_start", "cnt", "min_ts", "max_ts").collect()
        except Exception:
            # a batch cut off by stop() neither commits nor counts; raising
            # here would only hand the engine an error to report
            if self.stopping:
                return
            raise
        now = time.time()
        t0 = time.perf_counter()
        last: dict[int, float] = {}
        for r in rows:
            end = r["max_ts"].timestamp()
            lo = int(r["min_ts"].timestamp() * 1e6)
            self.min_ts_us = lo if self.min_ts_us is None else min(self.min_ts_us, lo)
            w = int(r["w_start"].timestamp() * 1e6)
            self.cnt_by_window[w] += r["cnt"]
            last[w] = max(last.get(w, 0.0), end)
        # windows of event time generated before the query was up, or in its
        # first warmup_s, measure start-up, not steady latency
        if self.first_commit is not None:
            start = self.first_commit + self.warmup_s
            self.latency_s += [now - end for w, end in last.items() if w / 1e6 >= start]
        if self.first_commit is None:
            self.first_commit = now
        self.callback_s.append(time.perf_counter() - t0)


def _source(spark, rate: int, seed: int):
    from pyspark.sql import functions as F

    from windflow_spark.streaming import rate_stream

    a, b = key_map(seed)
    return rate_stream(spark, rate).select(
        ((F.col("value") * a + b) % KEYS).alias("key"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % 97).cast("double").alias("v"),
    )


def _pipeline(df):
    from pyspark.sql import functions as F

    from windflow_spark.streaming import streaming_tumbling_window_tb

    return streaming_tumbling_window_tb(
        df, ["key"], "ts", WINDOW_US,
        [F.count(F.lit(1)).alias("cnt"), F.min("ts").alias("min_ts"),
         F.max("ts").alias("max_ts")],
    )


def _start(df, sink: Sink, name: str, available_now: bool = False):
    ckpt = os.path.join(WORK, "ckpt", name)
    shutil.rmtree(ckpt, ignore_errors=True)
    w = (
        _pipeline(df).writeStream.outputMode("append")
        .option("checkpointLocation", ckpt).foreachBatch(sink)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def _rate_phase(spark, seed, rate, seconds, t_process, result, name):
    sink = Sink(RATE_WARMUP_S)
    q = _start(_source(spark, rate, seed), sink, name)
    deadline = time.time() + 90
    while q.lastProgress is None:
        if q.exception() is not None or time.time() > deadline:
            raise RuntimeError(f"{name}: no batch committed: {q.exception()}")
        time.sleep(0.01)
    if name == "lo":
        result.put("setup_s", time.time() - t_process)
    t_first = time.time()
    time.sleep(seconds)
    while (beyond(len(sink.latency_s), TAIL_Q) < 10 and q.exception() is None
           and time.time() - t_first < MAX_PHASE_S):
        time.sleep(0.1)
    t_stop = time.time()
    sink.stopping = True
    q.stop()
    progress = q.recentProgress
    # rows the source had released by the stop (it releases whole seconds of
    # rows, row k due k / rate seconds after the first) minus the rows the
    # committed batches read
    if sink.min_ts_us is not None:
        due = math.floor(t_stop - sink.min_ts_us / 1e6) * rate
        sink.backlog_rows = max(0.0, due - sum(p["numInputRows"] for p in progress))
    return sink, progress


def _progress_metrics(progress, prefix: str, result: Result) -> None:
    batches = [p for p in progress if p["numInputRows"] > 0]
    n = len(batches)

    def dur(key: str) -> float:
        return median([p["durationMs"].get(key, 0) for p in batches])

    result.put(f"{prefix}.stream.batches", n, n)
    result.put(f"{prefix}.stream.batch_rows_p50", median([p["numInputRows"] for p in batches]), n)
    result.put(f"{prefix}.stream.trigger_ms_p50", dur("triggerExecution"), n)
    result.put(f"{prefix}.stream.add_batch_ms_p50", dur("addBatch"), n)
    result.put(f"{prefix}.stream.query_planning_ms_p50", dur("queryPlanning"), n)
    result.put(f"{prefix}.stream.wal_commit_ms_p50", dur("walCommit"), n)
    result.put(f"{prefix}.stream.commit_offsets_ms_p50", dur("commitOffsets"), n)


def _state(progress) -> list[dict]:
    return [op for p in progress for op in p.get("stateOperators", [])]


def _write_backlog(seed: int, rows: int, files: int) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    a, b = key_map(seed)
    rng = np.random.default_rng(seed)
    i = np.arange(rows, dtype=np.int64)
    # event time advances 1..19 us per row: ~10k rows per 100 ms window
    ts = 1_700_000_000_000_000 + np.cumsum(rng.integers(1, 20, rows))
    path = os.path.join(WORK, "backlog")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    for f, part in enumerate(np.array_split(i, files)):
        pq.write_table(pa.table({
            "key": (part * a + b) % KEYS,
            "ts": pa.array(ts[part], pa.timestamp("us", tz="UTC")),
            "v": (part % 97).astype(np.float64),
        }), os.path.join(path, f"part-{f:03d}.parquet"))
    return path


def run(workload: str, seed: int, seconds: float, traced: bool, t_process: float,
        result: Result) -> None:
    from perfbench.run import start_session

    t0 = time.time()
    spark = start_session()
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", NO_DATA_BATCHES)
    result.put("setup.session_s", time.time() - t0)
    result.put("setup.registry_import_s", 0.0, 0)
    tracer = None
    if traced:
        from perfbench.trace import Tracer

        tracer = Tracer(spark)
    try:
        t_lo = time.time()
        phases = {"lo": _rate_phase(spark, seed, LO_RATE, seconds, t_process, result, "lo")}
        t_drains = time.time()
        path = _write_backlog(seed, BACKLOG_ROWS, BACKLOG_FILES)
        drains = [_drain(spark, path, f"drain{i}") for i in range(WARMUP_DRAINS + DRAINS)]
        t_hi = time.time()
        # hi, which only the per-layer view reports, comes last, so that the
        # heap and the cores it loads cannot slow the bounded phases
        phases["hi"] = _rate_phase(spark, seed, HI_RATE, seconds * HI_SHARE, t_process,
                                   result, "hi")
        result.context["phase_s"] = {"lo": t_drains - t_lo, "drain": t_hi - t_drains,
                                     "hi": time.time() - t_hi}
        timed = drains[WARMUP_DRAINS:]
        walls = [t1 - t0 for t0, t1, _, _ in timed]
        result.put("suite_s", median(walls), len(walls))
        result.context["drain_s"] = [t1 - t0 for t0, t1, _, _ in drains]
        t_drain, t_end, sink, progress = sorted(timed, key=lambda d: d[1] - d[0])[DRAINS // 2]
        for i, (_, _, sink_i, progress_i) in enumerate(drains):
            phases[f"drain{i}"] = (sink_i, progress_i)
        _checks(phases, path, result)
        _latency(phases, result)
        if tracer is not None:
            _layer_metrics(tracer, phases, progress, t_drain, t_end, result)
            for name in ("lo", "hi"):
                tracer.add_progress(name, phases[name][1])
            tracer.add_progress("drain", progress)
            tracer.dump(trace_path(workload, seed))
    finally:
        if tracer is not None:
            tracer.close()
        result.put_rss()
        stop_session(spark)


def _drain(spark, path: str, name: str):
    """Replay the backlog once with availableNow; return its start and end."""
    from windflow_spark.streaming import file_stream

    df = file_stream(spark, path, "key long, ts timestamp, v double", max_files_per_trigger=1)
    sink = Sink()
    t0 = time.time()
    q = _start(df, sink, name, available_now=True)
    q.awaitTermination()
    return t0, time.time(), sink, q.recentProgress


def _latency(phases, result: Result) -> None:
    for name in ("lo", "hi"):
        lat = phases[name][0].latency_s
        for s in lat:
            result.check(s <= LATENCY_LIMIT_S, f"{name} latency {s:.2f} s over the limit")
        prefix = "latency" if name == "lo" else "hi.latency"
        result.put(f"{prefix}_p50_ms", 1e3 * median(lat), len(lat))
        # a tail without 10 samples beyond it would read 0, the best value:
        # count it as a failure instead
        supported = beyond(len(lat), TAIL_Q) >= 10
        result.check(supported, f"{name}: {len(lat)} latency samples do not support p{TAIL_Q:.0%}")
        if supported:
            result.put(f"{prefix}_tail_ms", 1e3 * percentile(lat, TAIL_Q), len(lat))
    result.context["latency_tail_q"] = TAIL_Q


def _checks(phases, path, result: Result) -> None:
    dropped = sum(op.get("numRowsDroppedByWatermark", 0)
                  for _, progress in phases.values() for op in _state(progress))
    result.check(dropped == 0, f"{dropped} rows dropped by the watermark")
    for name, (sink, progress) in phases.items():
        if not sink.cnt_by_window:
            result.check(False, f"{name}: no window closed")
            continue
        # every window up to the last closed one is complete, so the counts
        # must add up to every input row before its end
        t_end = max(sink.cnt_by_window) + WINDOW_US
        if name.startswith("drain"):
            import pyarrow.dataset as ds

            ts = ds.dataset(path).to_table(columns=["ts"]).column("ts")
            ts_us = ts.cast("int64").to_numpy()
            expected = int((ts_us < t_end).sum())
        else:
            # the rate source stamps row k at start + round(k * 1000 / rate) ms
            rate = int(progress[-1]["sources"][0]["description"]
                       .split("rowsPerSecond=")[1].split(",")[0])
            d_ms = (t_end - sink.min_ts_us) / 1000
            expected = max(0, math.ceil((d_ms - 0.5) * rate / 1000))
        got = sum(sink.cnt_by_window.values())
        result.check(got == expected, f"{name}: windows hold {got} rows, expected {expected}")


def _layer_metrics(tracer, phases, drain_progress, t_drain, t_end, result: Result) -> None:
    for name in ("lo", "hi"):
        _progress_metrics(phases[name][1], name, result)
    _progress_metrics(drain_progress, "drain", result)
    for name in ("lo", "hi"):
        result.put(f"{name}.source.backlog_rows_end", phases[name][0].backlog_rows, 1)
    hi = _state(phases["hi"][1])
    last = hi[-1] if hi else {}
    result.put("state.rows_total", last.get("numRowsTotal", 0), 1)
    result.put("state.memory_bytes", last.get("memoryUsedBytes", 0), 1)
    result.put("state.commit_ms_p50", median([op.get("commitTimeMs", 0) for op in hi]), len(hi))
    result.put("state.rows_dropped_by_watermark",
               sum(op.get("numRowsDroppedByWatermark", 0)
                   for _, progress in phases.values() for op in _state(progress)),
               sum(len(p) for _, p in phases.values()))
    cb = [c for sink, _ in phases.values() for c in sink.callback_s]
    result.put("sink.callback_ms_p50", 1e3 * median(cb), len(cb))
    # the median drain is the executor-bound phase: charge its jobs to the layers
    jobs = tracer.jobs_between(int(t_drain * 1e3), int(t_end * 1e3))
    n = len(jobs)
    for key, metric in (("run_s", "executor.run_s"), ("cpu_s", "executor.cpu_s"),
                        ("gc_s", "executor.gc_s"),
                        ("shuffle_write_bytes", "shuffle.write_bytes"),
                        ("shuffle_read_bytes", "shuffle.read_bytes"),
                        ("spill_bytes", "shuffle.spill_bytes"),
                        ("fetch_wait_s", "shuffle.fetch_wait_s")):
        result.put(metric, sum(j[key] for j in jobs), n)
    result.put("scheduler.jobs", n, n)
    result.put("scheduler.stages", sum(j["stages"] for j in jobs), n)
    result.put("scheduler.tasks", sum(j["tasks"] for j in jobs), n)
    cores = tracer.sc.defaultParallelism
    result.put("scheduler.slot_util",
               sum(j["run_s"] for j in jobs) / ((t_end - t_drain) * cores), n)
    # tracing a stream reads its figures after the fact: the overhead is the
    # tracer's own reads on top of the drain they describe
    result.put("trace.overhead_ratio", 1 + tracer.bookkeeping_s / (t_end - t_drain), 1)
