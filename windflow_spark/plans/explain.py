"""Physical-plan inspection — the 100 TB design-rule enforcement kit.

WindFlow has no optimizer (SURVEY.md §4); in this engine Catalyst is the
optimizer and these helpers make its decisions ASSERTABLE: tests pin that
filters reach the parquet scan, projections prune columns, small dims
broadcast, and shuffle counts don't regress. A plan regression that would
melt a 1000-executor job fails CI here instead.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """The formatted physical plan (post-AQE initial plan) as a string."""
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries across all parquet scans in the plan."""
    plan = physical_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        body = m.group(1).strip()
        if body:
            out.extend(s.strip() for s in body.split(","))
    return out


def scan_read_schema(df: DataFrame) -> list[str]:
    """Column names read from disk (ReadSchema of every scan) — column
    pruning means this is a subset of the table schema."""
    plan = physical_plan(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        for field in m.group(1).split(","):
            name = field.split(":")[0].strip()
            if name:
                cols.append(name)
    return cols


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df) or "BroadcastNestedLoopJoin" in physical_plan(df)


def shuffle_count(df: DataFrame) -> int:
    """Number of Exchange (shuffle) operators in the physical plan. Every
    one costs a full network pass of its input at cluster scale."""
    plan = physical_plan(df)
    # formatted mode lists each node once in the tree ("+- Exchange (5)") and
    # once as a detail header ("(5) Exchange") — count detail headers only
    return len(re.findall(r"^\(\d+\) Exchange\b", plan, re.M))


def keyed_shuffle_count(df: DataFrame) -> int:
    """Exchanges that repartition BY KEY (hash/range) — the ones whose
    placement is algorithmic. Round-robin exchanges (the
    ensure_min_partitions input widener on small local inputs — a no-op at
    real scale) are excluded, so plan tests can pin 'no keyed shuffle'
    without breaking on the toy-input parallelism floor."""
    plan = physical_plan(df)
    # one detail block per node, "(N) Exchange" up to the next "(M) ..."
    # header: count the distinct nodes whose Arguments are keyed — a cached
    # lineage can repeat partitioning text, never a node's detail header
    keyed = {
        m.group(1)
        for m in re.finditer(r"^\((\d+)\) Exchange\b(.*?)(?=^\(\d+\) |\Z)", plan, re.M | re.S)
        if re.search(r"^Arguments: (?:hash|range)partitioning\(", m.group(2), re.M)
    }
    return len(keyed)


def codegen_stage_count(df: DataFrame) -> int:
    """WholeStageCodegen spans — the fused-operator regions (the analog of
    WindFlow's chain(), reference wf/multipipe.hpp:1051-1107, which Catalyst
    does automatically). Simple-mode explain marks them ``*(n)``."""
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    return len(set(re.findall(r"\*\((\d+)\)", qe.explainString(mode))))
