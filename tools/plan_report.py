"""Generate PLANS.md — per-query physical-plan properties for the whole
registry, the auditable artifact behind the scale claims:

- shuffles (total Exchange count) and KEYED shuffles (hash/range — the
  algorithmic ones; round-robin wideners excluded),
- broadcast joins vs sort-merge joins vs nested-loop joins,
- WholeStageCodegen span count (fusion),
- whether any parquet scan carries pushed filters / a pruned read schema.

Run: python tools/plan_report.py [sf_dir]  (writes PLANS.md at the repo root)
     python tools/plan_report.py [sf_dir] --out PATH --only NAME [--only NAME ...]
     (the same report for the named queries only, written to PATH;
     tests/test_plans.py compares a slice of PLANS.md with such a run)
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    from windflow_spark.tables import DEFAULT_SF_DIR

    ap = argparse.ArgumentParser()
    # PLANS.md is generated at sf0.01, next to the default (sf0.1) test data
    ap.add_argument("sf_dir", nargs="?",
                    default=os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.01"))
    ap.add_argument("--out", default=os.path.join(ROOT, "PLANS.md"))
    ap.add_argument("--only", action="append", metavar="NAME",
                    help="report only these queries (repeatable)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]"
    spark = (
        SparkSession.builder.appName("plan_report")
        .master(master)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod
    from windflow_spark.plans.explain import physical_plan

    sf_dir = args.sf_dir
    queries = entry_mod.queries()
    unknown = sorted(set(args.only or ()) - set(queries))
    if unknown:
        sys.exit(f"unknown queries: {unknown}")
    lines = [
        "# PLANS — physical-plan properties per registry query",
        "",
        f"Generated by `tools/plan_report.py` on a bare `{master}` session at {sf_dir}.",
        "Columns: total Exchange operators; KEYED exchanges (hash/range — the",
        "algorithmic shuffles; round-robin input wideners excluded); join",
        "strategies (BHJ=broadcast hash, SMJ=sort-merge, BNLJ=broadcast",
        "nested-loop — BNLJ only in documented cases); pushed parquet",
        "filters present. (Codegen fusion is invisible pre-execution under",
        "AQE; it is pinned separately by tests/test_plans.py.)",
        "",
        "| query | exch | keyed | BHJ | SMJ | BNLJ | pushdown |",
        "|---|---|---|---|---|---|---|",
    ]
    totals = {"exch": 0, "keyed": 0, "smj": 0, "bnlj": 0}
    for name, fn in queries.items():
        if args.only and name not in args.only:
            continue
        try:
            plan = physical_plan(fn(spark, sf_dir))
        except Exception as exc:  # surface, never skip silently
            lines.append(f"| {name} | ERROR: {str(exc).splitlines()[0][:60]} | | | | | |")
            continue
        exch = len(re.findall(r"^\(\d+\) Exchange\b", plan, re.M))
        keyed = len(re.findall(r"(?:hash|range)partitioning\(", plan))
        bhj = len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M))
        smj = len(re.findall(r"^\(\d+\) SortMergeJoin", plan, re.M))
        bnlj = len(re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M))
        pushed = "yes" if re.search(r"PushedFilters: \[[^\]]", plan) else "—"
        totals["exch"] += exch
        totals["keyed"] += keyed
        totals["smj"] += smj
        totals["bnlj"] += bnlj
        lines.append(
            f"| {name} | {exch} | {keyed} | {bhj} | {smj} | {bnlj} | {pushed} |"
        )
    lines += [
        "",
        f"Totals: {totals['exch']} exchanges ({totals['keyed']} keyed), "
        f"{totals['smj']} sort-merge joins, {totals['bnlj']} nested-loop "
        "joins (all documented). Properties are enforced, not just "
        "reported: tests/test_plans.py pins pushdown, broadcasts, "
        "no-cartesian/no-undocumented-BNLJ, TakeOrdered-not-global-sort, "
        "and per-query keyed-shuffle expectations.",
        "",
    ]
    with open(args.out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {args.out}")
    spark.stop()


if __name__ == "__main__":
    main()
