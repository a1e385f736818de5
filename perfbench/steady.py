"""Steadiness check: run one workload on several seeds, in one or more sets.

    python3 perfbench/steady.py --workload batch_floor --runs 10 [--sets 2] [--first-seed 1]

Runs ``perfbench/run.py`` once per seed, one run at a time; set k uses the
seeds first-seed + k * runs onwards. For every end-to-end metric it prints,
per set, the median, the quartiles and the spread (Q3 - Q1) / median, and,
from the second set on, how much worse the set's median is than the first
set's, as a share of it. Each figure is set against the metric's bound in
BENCHMARK.json by one rule:

- a spread is ``steady`` below a third of the bound, ``in bound`` up to the
  bound and ``OVER`` beyond it (the spread of ``setup_s``, a single cold
  start per run, is reported but not held to its bound);
- a change of median is ``in bound`` up to the bound and ``OVER`` beyond it.

The exit status is 1 if any figure is ``OVER`` or a run fails. The machine
reference times of every run are printed too, so drift of the machine can
be told apart from noise in the harness.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPREAD_EXEMPT = {"setup_s"}


def run_set(workload: str, seeds: range, spec: dict) -> dict[str, list[float]] | None:
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    refs: list[float] = []
    for seed in seeds:
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=180,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return None
        context, result = json.loads(lines[-2])["context"], json.loads(lines[-1])
        if not result["correct"]:
            print(f"seed {seed}: failed checks: {context.get('problems')}")
            return None
        refs.extend(context["machine.ref_s"])
        for name, m in result["metrics"].items():
            values[name].append(m["value"])
        ref = "/".join(f"{r:.2f}" for r in context["machine.ref_s"])
        rss = "/".join(f"{v:.0f}" for v in context.get("peak_rss_mb", {}).values())
        print(f"seed {seed}: {time.time() - t0:.1f} s, ref {ref} s, rss {rss} MB, "
              + ", ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()),
              flush=True)
    print(f"machine.ref_s: min {min(refs):.3f} median {statistics.median(refs):.3f} "
          f"max {max(refs):.3f}")
    return values


def verdict(share: float, bound: float, steady_below: float | None = None) -> str:
    if steady_below is not None and share < steady_below:
        return "steady"
    return "in bound" if share <= bound else "OVER"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    medians: dict[str, float] = {}
    ok = True
    for k in range(args.sets):
        first = args.first_seed + k * args.runs
        print(f"set {k + 1}: seeds {first}..{first + args.runs - 1}", flush=True)
        values = run_set(args.workload, range(first, first + args.runs), spec)
        if values is None:
            return 1
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            q1, med, q3 = statistics.quantiles(values[name], n=4)
            spread = (q3 - q1) / med
            v = verdict(spread, bound, bound / 3)
            if name in SPREAD_EXEMPT and v == "OVER":
                v = "over, not held"
            ok &= v != "OVER"
            line = (f"{name:>16}: median {med:.4g} {m['unit']}, quartiles {q1:.4g}..{q3:.4g}, "
                    f"spread {spread:.3f} {v}")
            if k == 0:
                medians[name] = med
            else:
                sign = 1 if m["better"] == "lower" else -1
                worse = sign * (med - medians[name]) / medians[name]
                v = verdict(worse, bound)
                ok &= v != "OVER"
                line += f"; worse than set 1 by {worse:+.3f} {v}"
            print(f"{line} (bound {bound})", flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
