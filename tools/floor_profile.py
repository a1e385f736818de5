"""Driver-floor profiler (VERDICT r11 #6): where does the ~0.3-0.5 s/query
spent by SUB-SECOND bench queries actually go?

For each named query it measures, in a bench-identical warm session:
  construct_s   Python-side DataFrame construction (fn call)
  py4j_calls    py4j round trips that construction made (memory commands
                left out, as in tests/test_construct_round_trips.py)
  exec_s        the noop-sink action (min of N repeats)
  n_jobs        Spark jobs the action submitted (AQE runs one job per
                materialized query stage)
  n_stages      total stages across those jobs
  n_tasks       total tasks across those jobs
  compiles_first / compiles_warm
                generated classes Janino compiled during the query's first
                invocation (construction and action) and during its last
                one; warm invocations compile nothing once every class is
                in the session's generated-class cache (session.py)
and prints a per-query line plus two floor baselines:
  job_floor_s   min wall time of a 1-task JVM-only job (a noop write of
                spark.range(0, 1, 1, 1); no Python worker)
  noop_floor_s  min wall time of a trivial 32-task noop write

Reading: if exec_s ~= n_jobs * job_floor_s while n_tasks * per-task work is
tiny, the query is scheduling/planning-bound (the driver floor), not
compute-bound — the only levers are fewer query stages (fewer exchanges)
or batching driver actions, not executor-side work.

Usage: python tools/floor_profile.py [--repeats N] q1 q2 ...
Honors $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS like bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument(
        "--conf", action="append", default=[], metavar="K=V",
        help="extra spark conf (repeatable) for A/B config experiments",
    )
    args = ap.parse_args()
    if args.repeats < 2:
        ap.error("--repeats must be at least 2: a first and a warm invocation")

    from bench import warm_session
    from windflow_spark import get_spark
    from windflow_spark import queries as Q
    from windflow_spark.util import (
        count_codegen_compiles,
        count_py4j_calls,
        release_cache,
    )

    extra = dict(kv.split("=", 1) for kv in args.conf)
    spark = get_spark("floor-profile", extra_conf=extra or None)
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")

    qs = dict(Q.QUERIES)
    unknown = [n for n in args.names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        sys.exit(2)

    warm_session(spark, args.sf_dir)

    # floor baselines (min of 10)
    job_floor = min(_timed(lambda: _noop_write(spark.range(0, 1, 1, 1)))
                    for _ in range(10))
    noop_floor = min(_timed(lambda: _noop_write(spark.range(0, 32, 1, 32)))
                     for _ in range(10))
    st = sc.statusTracker()
    out = {"job_floor_s": round(job_floor, 4), "noop_floor_s": round(noop_floor, 4)}
    rows = []
    for name in args.names:
        fn = qs[name]
        best = None
        compiles = []
        for r in range(args.repeats):
            group = f"{name}#{r}"
            release_cache(spark)
            t0 = time.time()
            (df, calls), n_compiled = count_codegen_compiles(
                spark, lambda: count_py4j_calls(spark, lambda: fn(spark, args.sf_dir))
            )
            t1 = time.time()
            sc.setJobGroup(group, name)
            n_compiled += count_codegen_compiles(spark, lambda: _noop_write(df))[1]
            t2 = time.time()
            compiles.append(n_compiled)
            jobs = st.getJobIdsForGroup(group)
            n_stages = 0
            n_tasks = 0
            for j in jobs:
                ji = st.getJobInfo(j)
                if ji is None:
                    continue
                for s in ji.stageIds:
                    si = st.getStageInfo(s)
                    if si is not None:
                        n_stages += 1
                        n_tasks += si.numTasks
            rec = {
                "query": name,
                "construct_s": round(t1 - t0, 4),
                "py4j_calls": calls,
                "exec_s": round(t2 - t1, 4),
                "n_jobs": len(jobs),
                "n_stages": n_stages,
                "n_tasks": n_tasks,
            }
            if best is None or rec["exec_s"] < best["exec_s"]:
                best = rec
        best["compiles_first"] = compiles[0]
        best["compiles_warm"] = compiles[-1]
        rows.append(best)
        print(json.dumps(best))
    out["queries"] = rows
    print(json.dumps(out))


def _noop_write(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _timed(f) -> float:
    t0 = time.time()
    f()
    return time.time() - t0


if __name__ == "__main__":
    main()
