"""Same-session INTERLEAVED A/B profiler (guide §1): the microVM's
run-to-run drift (sentinel swings 2x between processes) makes cross-process
before/after numbers meaningless, so this loads the BEFORE variant of
windflow_spark/queries.py from a git ref alongside the working-tree AFTER
variant, and times them alternately (A B A B ...) inside ONE warm session.
Min and per-pair ratios are then drift-free to first order.

Only queries.py is loaded from the ref; every other module (operators,
streaming, functions, session) comes from the working tree for both
sides. So the tool refuses to run (exit 2, listing the files) when any
other file under windflow_spark/ differs from the ref: an A/B of that
change would time the same code twice. Session-level changes need
cross-process interleaved runs instead (A B A B ... processes, each
building its own session), because some settings are read once per
process — e.g. spark.python.sql.dataFrameDebugging.enabled, which PySpark
caches at the first Column call.

Usage: python tools/ab_prof.py [--ref HEAD] [--repeats 5] q1 q2 ...
Honors $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS like bench.py.
"""

from __future__ import annotations

import argparse
import importlib.util
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def check_ref_scope(ref: str) -> None:
    changed = subprocess.check_output(
        ["git", "diff", "--name-only", ref, "--",
         "windflow_spark", ":!windflow_spark/queries.py"],
        cwd=REPO, text=True,
    ).split()
    if changed:
        print(
            f"files outside queries.py differ from {ref}; both sides would "
            "run the working-tree copy:\n  " + "\n  ".join(changed),
            file=sys.stderr,
        )
        sys.exit(2)


def load_ref_queries(ref: str):
    src = subprocess.check_output(
        ["git", "show", f"{ref}:windflow_spark/queries.py"], cwd=REPO
    )
    fd, path = tempfile.mkstemp(suffix=".py", prefix="queries_ref_")
    with os.fdopen(fd, "wb") as f:
        f.write(src)
    spec = importlib.util.spec_from_file_location("queries_ref", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--ref", default="HEAD")
    ap.add_argument("--repeats", type=int, default=5)
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    args = ap.parse_args()
    check_ref_scope(args.ref)

    from bench import run_once, warm_session
    from windflow_spark import get_spark
    from windflow_spark import queries as Qnew

    Qold = load_ref_queries(args.ref)

    spark = get_spark("ab-prof")
    spark.sparkContext.setLogLevel("ERROR")

    warm_session(spark, args.sf_dir)

    for name in args.names:
        fa = Qold.QUERIES[name]
        fb = Qnew.QUERIES[name]
        ta, tb = [], []
        run_once(fa, spark, args.sf_dir)  # one unmeasured pair to warm both
        run_once(fb, spark, args.sf_dir)  # plans' first-time costs
        for _ in range(args.repeats):
            ta.append(run_once(fa, spark, args.sf_dir))
            tb.append(run_once(fb, spark, args.sf_dir))
        ratios = sorted(b / a for a, b in zip(ta, tb))
        med_ratio = ratios[len(ratios) // 2]
        print(
            f"{name:45s} before_min={min(ta):6.3f} after_min={min(tb):6.3f} "
            f"min_ratio={min(tb) / min(ta):5.3f} med_pair_ratio={med_ratio:5.3f}"
        )
        sys.stdout.flush()


if __name__ == "__main__":
    main()
