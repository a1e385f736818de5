"""Focused tests for the round-12 OPTIMIZATION changes to operator
internals (OPTIMIZATION_r12.md): the rewrites must keep their structural
properties (shared exchanges, in-plan scalars, grouped-bucket pair
expansion) — the full oracle gate separately proves the results are
unchanged.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from windflow_spark.plans.explain import physical_plan

pytestmark = pytest.mark.usefixtures("no_cached_lineage")


def test_assoc_rules_lift_no_window_no_eager_count(spark, sf_dir):
    """r12: the pair miner derives per-item counts via a guarded
    broadcast join (no full-frame pk window) and attaches the basket
    total as an in-plan one-row cross join (no eager driver count job).
    """
    from windflow_spark.queries import assoc_rules_lift

    df = assoc_rules_lift(spark, sf_dir)
    plan = physical_plan(df)
    # the old shape had a count() window partitioned by pk
    assert "windowspecdefinition" not in plan
    # the one-row basket total rides a broadcast nested loop cross join
    assert "BroadcastNestedLoopJoin" in plan


def test_recsys_eval_shared_base_single_join(spark, sf_dir):
    """r12: the temporal-holdout eval queries derive BOTH halves from one
    persisted join frame — the plan must scan lineitem exactly once and
    contain no driver-side cut (the midpoint rides a broadcast one-row
    aggregate, so the plan includes the orders min/max agg subtree)."""
    from windflow_spark.queries import recsys_hitrate_at3

    df = recsys_hitrate_at3(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("lineitem.parquet") <= 1, (
        "train AND test halves must come from the single persisted "
        "lineitem join, not one scan per half"
    )


def test_knn_graph_lsh_grouped_bucket_pairs(spark, sf_dir):
    """r12: candidate pairs are expanded IN-ROW from grouped buckets —
    no bucket self-join (SortMergeJoin) and only the final top-3 window
    remains (the bucket-cap window is replaced by slice(sorted ids))."""
    from windflow_spark.queries import knn_graph_lsh

    df = knn_graph_lsh(spark, sf_dir)
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan
    # exactly one window spec: the final per-query rank
    assert plan.count("windowspecdefinition(qid#") == plan.count(
        "windowspecdefinition("
    )


def test_knn_graph_lsh_bucket_cap_slice_equivalence(spark):
    """slice(array_sort(collect_list(id)), 1, cap) keeps the same id set
    as row_number() over (partition by bucket order by id) <= cap — the
    truncation identity the r12 rewrite relies on."""
    rows = [(b, i) for b in range(3) for i in range(7, -1, -1)]
    df = spark.createDataFrame(rows, "bkt int, vec_id long")
    cap = 5
    grouped = df.groupBy("bkt").agg(
        F.slice(F.array_sort(F.collect_list("vec_id")), 1, cap).alias("ids")
    )
    got = {
        (r["bkt"], i) for r in grouped.collect() for i in r["ids"]
    }
    from pyspark.sql import Window as W

    w = W.partitionBy("bkt").orderBy("vec_id")
    ranked = (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
        .select("bkt", "vec_id")
    )
    want = {(r["bkt"], r["vec_id"]) for r in ranked.collect()}
    assert got == want

def test_pca_power_iteration_driver_fold(spark, sf_dir):
    """r12: the three exact-integer mat-vec rounds run on the DRIVER over
    the dimension-bounded (64x64) collected matrix; the returned frame is
    a dim-sized local result with only the ordering/rounding projection —
    no joins, no corpus scan, no exchange left in the final plan."""
    from windflow_spark.queries import embedding_pca_power_iteration

    df = embedding_pca_power_iteration(spark, sf_dir)
    plan = physical_plan(df)
    assert "Join" not in plan
    assert ".parquet" not in plan
    assert df.count() == 8


def test_decimal_div_truncates_toward_zero(spark):
    """The driver fold reproduces Spark's DECIMAL `div` with a Python
    helper; DECIMAL div must truncate toward zero (Python // floors,
    which differs on negatives) — pin the engine semantic the fold
    assumes, on both sign combinations."""
    row = spark.sql(
        "SELECT CAST(CAST(-7000000 AS DECIMAL(38,0)) div 3 AS LONG) AS a, "
        "CAST(CAST(7000000 AS DECIMAL(38,0)) div -3 AS LONG) AS b, "
        "CAST(CAST(7000000 AS DECIMAL(38,0)) div 3 AS LONG) AS c"
    ).first()
    def tdiv(a: int, b: int) -> int:
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q
    assert row["a"] == tdiv(-7000000, 3) == -2333333
    assert row["b"] == tdiv(7000000, -3) == -2333333
    assert row["c"] == tdiv(7000000, 3) == 2333333


def test_landmark_bfs_rounds_add_no_construction_jobs(spark, sf_dir):
    """r12: the per-round frontier frames are persist()-shared, not
    checkpointed — under AQE even a lazy localCheckpoint executes its
    upstream stages at the call site, so the old form paid 3 serialized
    build jobs. Building the query must now submit exactly the jobs the
    shared adjacency helper itself submits (its one checkpoint), and the
    BFS rounds ZERO more; the rounds show as InMemoryTableScan in the
    plan."""
    from windflow_spark.queries import (
        copurchase_adjacency,
        graph_landmark_distances,
    )

    sc = spark.sparkContext

    def njobs() -> int:
        return sc._jsc.sc().dagScheduler().numTotalJobs()

    j0 = njobs()
    copurchase_adjacency(spark, sf_dir)
    helper_jobs = njobs() - j0
    j1 = njobs()
    df = graph_landmark_distances(spark, sf_dir)
    query_jobs = njobs() - j1
    assert query_jobs <= helper_jobs, (
        f"BFS rounds must add no construction jobs beyond the adjacency "
        f"helper's own ({query_jobs} > {helper_jobs})"
    )
    assert "InMemoryTableScan" in physical_plan(df)

def test_k_core_copurchase_trace_in_plan(spark, sf_dir):
    """r12: the fixed 4-round trace is returned as an in-plan unionAll of
    one-row aggregates over the checkpointed round frames — no per-round
    .first() driver round-trips; the returned plan must be a Union of
    four aggregates reading checkpoint RDDs, in round order."""
    from windflow_spark.queries import k_core_copurchase

    df = k_core_copurchase(spark, sf_dir)
    plan = physical_plan(df)
    assert "Union" in plan
    assert plan.count("Scan ExistingRDD") >= 4
    rows = df.collect()
    assert [r["round"] for r in rows] == [0, 1, 2, 3]


def test_label_propagation_rounds_persisted_not_checkpointed(spark, sf_dir):
    """r12: each round's label frame is persist()-shared — the final plan
    reads the rounds as InMemoryTableScan (cache), with lineage intact
    (cluster-safe recompute), instead of per-round checkpoint RDDs built
    eagerly at construction."""
    from windflow_spark.queries import label_propagation_communities

    df = label_propagation_communities(spark, sf_dir)
    assert "InMemoryTableScan" in physical_plan(df)

def test_adjacency_materialize_flag_equivalence(spark, sf_dir):
    """r12 (VERDICT r11 #8): spark.windflow.graph.adjacencyMaterialize=true
    swaps the adjacency lineage cut from executor-local checkpoint to a
    write-once parquet in the warehouse dir (durable across executor loss
    at cluster scale). Both paths must produce the identical adjacency."""
    from windflow_spark.queries import copurchase_adjacency

    def snapshot():
        nbrs, edges = copurchase_adjacency(spark, sf_dir)
        n = {(r["node"], tuple(r["nb"])) for r in nbrs.collect()}
        e = {(r["u"], r["v"]) for r in edges.collect()}
        return n, e

    spark.conf.set("spark.windflow.graph.adjacencyMaterialize", "false")
    base = snapshot()
    try:
        spark.conf.set("spark.windflow.graph.adjacencyMaterialize", "true")
        mat = snapshot()
    finally:
        spark.conf.set("spark.windflow.graph.adjacencyMaterialize", "false")
    assert mat == base
