"""Per-query profiler for optimization work (guide §1): times named
registry queries in isolation with the noop sink (min of N warm repeats)
and optionally dumps `.explain("formatted")` to a file.

Usage:
  python tools/qprof.py q1 q2 ...            # time queries
  python tools/qprof.py --plans DIR q1 ...   # also write DIR/<q>.txt plans
  python tools/qprof.py --repeats 5 q1 ...

Honors $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS like bench.py. Warm-up and
timed invocation are bench.py's own (warm_session, run_once), so the
first-listed query is not charged one-time session costs.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--plans", default=None, help="dir for explain output")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument(
        "--conf",
        action="append",
        default=[],
        metavar="K=V",
        help="extra spark conf (repeatable) for A/B config experiments",
    )
    args = ap.parse_args()

    from bench import run_once, warm_session
    from windflow_spark import get_spark
    from windflow_spark import queries as Q

    extra = dict(kv.split("=", 1) for kv in args.conf)
    spark = get_spark("qprof", extra_conf=extra or None)
    spark.sparkContext.setLogLevel("ERROR")

    qs = dict(Q.QUERIES)
    unknown = [n for n in args.names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        sys.exit(2)

    warm_session(spark, args.sf_dir)

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    for name in args.names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"qprof:{name}")
        runs = [run_once(fn, spark, args.sf_dir) for _ in range(args.repeats)]
        spark.sparkContext.setJobDescription(None)
        print(
            f"{name:48s} min={min(runs):7.3f}  runs="
            + ",".join(f"{r:.3f}" for r in runs),
            flush=True,
        )
        if args.plans:
            plan = fn(spark, args.sf_dir)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(os.path.join(args.plans, f"{name}.txt"), "w") as f:
                f.write(plan)


if __name__ == "__main__":
    main()
