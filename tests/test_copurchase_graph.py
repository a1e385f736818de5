"""The co-purchase graph queries: parts bought in the same order are
adjacent. The wedge family reads the graph through `copurchase_adjacency`,
the k-core, triangle and assortativity queries through the u<v edge list
of `_copurchase_pairs` and its `_degrees`. These tests pin the structural
properties of those helpers and of the iterative queries on top of them
(lineage cuts, in-plan traces, no construction jobs per round); the oracle
gate separately proves the results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from windflow_spark.plans.explain import keyed_shuffle_count, physical_plan
from windflow_spark.queries import _degrees

pytestmark = pytest.mark.usefixtures("no_cached_lineage")


def test_copurchase_adjacency_checkpoint_fanout(spark, sf_dir):
    """The shared neighbor frame is materialized (LogicalRDD — the chain
    runs once per query, not once per consumer branch) and spread across
    the session's parallelism so in-row wedge expansion fans out."""
    from windflow_spark.queries import copurchase_adjacency

    nbrs, edges = copurchase_adjacency(spark, sf_dir)
    assert "Scan ExistingRDD" in physical_plan(nbrs)
    assert nbrs.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # edge derivation stays in-row on top of the checkpoint: no exchange
    assert keyed_shuffle_count(edges) == 0


def test_adjacency_materialize_flag_equivalence(spark, sf_dir):
    """spark.windflow.graph.adjacencyMaterialize=true swaps the adjacency
    lineage cut from executor-local checkpoint to a write-once parquet in
    the warehouse dir (durable across executor loss at cluster scale).
    Both paths must produce the identical adjacency."""
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


def test_kcore_stats_fold_exact(spark):
    """n_edges = sum(degree)/2 is EXACT on a u<v edge list — the k-core
    queries fold both per-round scalars into one aggregate over
    `_degrees` on this identity."""
    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "u long, v long"
    )
    deg = _degrees(e)
    row = deg.agg(F.count(F.lit(1)).alias("nn"), F.sum("d").alias("sd")).first()
    assert int(row["nn"]) == deg.count() == 4
    assert int(row["sd"]) // 2 == e.count() == 4


def test_k_core_copurchase_trace_in_plan(spark, sf_dir):
    """The fixed 4-round trace is returned as an in-plan unionAll of
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


def test_landmark_bfs_rounds_add_no_construction_jobs(spark, sf_dir):
    """The per-round frontier frames are persist()-shared, not
    checkpointed — under AQE even a lazy localCheckpoint executes its
    upstream stages at the call site, so that form paid 3 serialized
    build jobs. Building the query must submit exactly the jobs the
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


def test_label_propagation_rounds_persisted_not_checkpointed(spark, sf_dir):
    """Each round's label frame is persist()-shared — the final plan reads
    the rounds as InMemoryTableScan (cache), with lineage intact
    (cluster-safe recompute), instead of per-round checkpoint RDDs built
    eagerly at construction."""
    from windflow_spark.queries import label_propagation_communities

    df = label_propagation_communities(spark, sf_dir)
    assert "InMemoryTableScan" in physical_plan(df)
