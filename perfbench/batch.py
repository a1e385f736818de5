"""Closed-loop batch workloads over the query registry.

One client runs a fixed list of registry queries through the registry's
entry point (``__spark_entry__.queries()[name](spark, sf_dir)`` followed by
a ``noop`` write) in passes; the seed fixes the order of every pass. Before
the timed passes, each query's first invocation is collected and compared
with its DuckDB oracle (``tools/check_correctness.compare``); that
invocation is untimed and also warms the JIT and the table cache.

``batch_floor`` holds sub-second queries, where plan construction, py4j
round trips and one-job-per-stage scheduling dominate; one of them fires
jobs from its constructor and leaves a persisted RDD behind.
``batch_heavy`` holds executor-bound queries, where task time and shuffle
dominate.
"""

from __future__ import annotations

import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import datagen
from perfbench.run import WORK, Result, beyond, median, percentile, stop_session, trace_path

# The 9 fastest of the 42 queries sampled from the sub-second population of
# BENCH_LOCAL.json (every 7th of the 293 sorted by time): 0.08 s to 0.30 s
# there, so construction and scheduling rather than tasks set their time.
# Plus a sub-second query whose constructor fires jobs and leaves a
# persisted RDD behind (the loop queries that do so take 3-11 s per
# invocation on four cores, more than a run can spend).
FLOOR = [
    "filter_events",
    "scalar_subquery_above_avg",
    "sample_token_budget",
    "rank_top3_per_segment",
    "q22_idle_customers",
    "split_route_counts",
    "ts_peak_detect_daily",
    "percentile_disc_battery",
    "interval_join_bucketed",
    "kendall_tau_qty_discount",
]

# Executor-bound: the action takes most of each invocation's wall time.
HEAVY = [
    "knn_graph_lsh",
    "assoc_rules_lift",
    "recsys_ndcg_at3",
    "dedup_minhash_lsh",
    "minhash_jaccard_calibration",
]

# The tables are the same in every run, so that runs differ only in the
# order of their passes, which the run's seed sets.
DATA_SEED = 0
# Untimed passes after the output check and before the timed ones. In one
# session the time of a pass falls by about a third over its first passes
# (the JVM compiles the planner's and py4j's hot paths) and levels off after
# about five; timing that slope made a run's figures depend on how far its
# JIT had got. The output check is the first of these passes.
WARMUP_PASSES = 3
# Every run makes at least this many timed passes, so each query's median
# rests on four invocations.
MIN_PASSES = 4
# The tail is reported at a fixed percentile so that runs stay comparable:
# the highest one that the fewest passes a run makes support with 10
# invocations beyond it.
TAIL_Q = 1 - 10 / (MIN_PASSES * len(FLOOR))


def release(spark) -> int:
    """Drop every cached table and persisted RDD; return how many RDDs were left.

    ``spark.catalog.clearCache()`` does not release ``localCheckpoint`` or
    ``persist`` RDDs made inside query constructors, so no timed invocation
    may run before the persistent-RDD map is emptied too.
    """
    spark.catalog.clearCache()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    leaked = 0
    for rdd_id in list(rdds.keySet()):
        rdds.get(rdd_id).unpersist(True)
        leaked += 1
    return leaked


def check_outputs(spark, names, fns, oracles, sf_dir, result: Result) -> set[str]:
    """Run each query once, untimed, against its oracle; return the failures.

    DuckDB computes the oracles in a second thread meanwhile; nothing here
    is timed.
    """
    import duckdb

    from tools.check_correctness import TABLES, compare

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    bad = set()
    with ThreadPoolExecutor(1) as pool:
        expected = {n: pool.submit(lambda n=n: con.execute(oracles[n]).df()) for n in names}
        for name in names:
            release(spark)
            try:
                got = fns[name](spark, sf_dir).toPandas()
                problems = compare(name, got, expected[name].result())
            except Exception as e:  # a failing query is a counted failure, not a crash
                problems = [f"{type(e).__name__}: {str(e)[:300]}"]
            result.check(not problems, f"{name}: {problems[:2]}")
            if problems:
                bad.add(name)
    con.close()
    return bad


def invoke(fns, name, spark, sf_dir) -> float:
    t0 = time.perf_counter()
    fns[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def invoke_traced(fns, name, spark, sf_dir, tracer) -> float:
    inv = tracer.new_invocation()
    with tracer.span("invocation", inv) as whole:
        with tracer.span("construct", inv, "invocation"):
            df = fns[name](spark, sf_dir)
        with tracer.span("plan", inv, "invocation"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("action", inv, "invocation"):
            df.write.format("noop").mode("overwrite").save()
    return whole.wall_s


def run(workload: str, seed: int, seconds: float, traced: bool, t_process: float,
        result: Result) -> None:
    names = FLOOR if workload == "batch_floor" else HEAVY

    t0 = time.time()
    from perfbench.run import start_session

    spark = start_session()
    t1 = time.time()
    import __spark_entry__ as entry

    fns, oracles = entry.queries(), entry.oracle_sql()
    t2 = time.time()
    result.put("setup_s", t2 - t_process)
    result.put("setup.session_s", t1 - t0)
    result.put("setup.registry_import_s", t2 - t1)

    try:
        sf_dir = datagen.write(DATA_SEED, os.path.join(WORK, "data"))
        t3 = time.time()
        bad = check_outputs(spark, names, fns, oracles, sf_dir, result)
        t4 = time.time()
        warmup = _timed_loop(spark, [n for n in names if n not in bad], fns, sf_dir, seed,
                             seconds, traced, result, trace_path(workload, seed))
        result.context["phase_s"] = {"generate": t3 - t2, "check": t4 - t3,
                                     "warmup": warmup, "timed": time.time() - t4 - warmup}
    finally:
        result.put_rss()
        stop_session(spark)


def _timed_loop(spark, names, fns, sf_dir, seed, seconds, traced, result, trace_file) -> float:
    """Warm up, then run timed passes; return the seconds the warm-up took."""
    tracer = None
    if traced:
        from perfbench.trace import Tracer

        tracer = Tracer(spark)
    rng = random.Random(seed)
    plain: dict[str, list[float]] = {n: [] for n in names}
    with_trace: dict[str, list[float]] = {n: [] for n in names}
    leaked: list[int] = []
    failed: set[str] = set()

    def one_pass(timed: bool, trace_pass: bool) -> None:
        order = names[:]
        rng.shuffle(order)
        for name in order:
            if name in failed:
                continue
            found = release(spark)
            try:
                if trace_pass:
                    with_trace[name].append(invoke_traced(fns, name, spark, sf_dir, tracer))
                else:
                    wall = invoke(fns, name, spark, sf_dir)
                    if timed:
                        plain[name].append(wall)
                result.check(True)
            except Exception as e:  # counted; the query leaves the loop
                failed.add(name)
                result.check(False, f"{name}: {type(e).__name__}: {str(e)[:300]}")
            if timed:
                leaked.append(found)

    t_warm = time.perf_counter()
    for _ in range(WARMUP_PASSES - 1):
        one_pass(False, False)
    start = time.perf_counter()
    passes = 0
    # whole passes until the time is up
    while passes < MIN_PASSES or time.perf_counter() - start < seconds:
        # a traced run alternates plain and traced passes, so the tracing
        # overhead is measured inside the run
        one_pass(True, tracer is not None and passes % 2 == 1)
        passes += 1
    release(spark)

    walls = [t for ts in plain.values() for t in ts]
    result.put("suite_s", sum(median(ts) for ts in plain.values() if ts), len(walls))
    result.put("latency_p50_ms", 1e3 * median(walls), len(walls))
    if beyond(len(walls), TAIL_Q) >= 10:
        result.put("latency_tail_ms", 1e3 * percentile(walls, TAIL_Q), len(walls))
    result.context["latency_tail_q"] = TAIL_Q
    result.context["passes"] = passes
    result.context["query_median_s"] = {n: median(ts) for n, ts in plain.items() if ts}
    result.put("cache.leaked_rdds", sum(leaked) / max(1, len(leaked)), len(leaked))
    if tracer is not None:
        _layer_metrics(tracer, plain, with_trace, spark, result)
        tracer.dump(trace_file)
        tracer.close()
    return start - t_warm


def _layer_metrics(tracer, plain, with_trace, spark, result: Result) -> None:
    tracer.resolve()
    cores = spark.sparkContext.defaultParallelism
    by_inv: dict[int, dict] = {}
    for s in tracer.spans:
        by_inv.setdefault(s.invocation, {})[s.name] = s
    invs = [v for v in by_inv.values() if {"invocation", "construct", "plan", "action"} <= v.keys()]
    n = len(invs)

    def mean(f) -> float:
        return sum(f(v) for v in invs) / n if n else 0.0

    def jobs(v):
        return [j for s in v.values() if s.name != "invocation" for j in s.jobs]

    def total(v, key):
        return sum(j[key] for j in jobs(v))

    result.put("queries.invocation_s", mean(lambda v: v["invocation"].wall_s), n)
    result.put("queries.construct_self_s",
               mean(lambda v: max(0.0, v["construct"].wall_s - v["construct"].job_wall_s)), n)
    result.put("queries.py4j_calls", mean(lambda v: v["construct"].py4j_calls), n)
    result.put("queries.construct_jobs", mean(lambda v: len(v["construct"].jobs)), n)
    result.put("catalyst.plan_s", mean(lambda v: v["plan"].wall_s), n)
    result.put("scheduler.jobs", mean(lambda v: len(jobs(v))), n)
    result.put("scheduler.stages", mean(lambda v: total(v, "stages")), n)
    result.put("scheduler.tasks", mean(lambda v: total(v, "tasks")), n)
    busy = sum(j["run_s"] for v in invs for j in v["action"].jobs)
    action_wall = sum(v["action"].wall_s for v in invs)
    result.put("scheduler.slot_util", busy / (action_wall * cores) if action_wall else 0.0, n)
    for key, name in (("run_s", "executor.run_s"), ("cpu_s", "executor.cpu_s"),
                      ("gc_s", "executor.gc_s"),
                      ("shuffle_write_bytes", "shuffle.write_bytes"),
                      ("shuffle_read_bytes", "shuffle.read_bytes"),
                      ("spill_bytes", "shuffle.spill_bytes"),
                      ("fetch_wait_s", "shuffle.fetch_wait_s")):
        result.put(name, mean(lambda v, key=key: total(v, key)), n)
    traced_suite = sum(median(ts) for ts in with_trace.values() if ts)
    plain_suite = sum(median(plain[q]) for q, ts in with_trace.items() if ts and plain[q])
    result.put("trace.overhead_ratio", traced_suite / plain_suite if plain_suite else 0.0,
               sum(len(ts) for ts in with_trace.values()))
