"""ensure_min_partitions contract (VERDICT r1 item 7): no plan→RDD
conversion, streaming-safe, and it still widens small local inputs."""

from __future__ import annotations

from pyspark.sql import functions as F

from windflow_spark.util import ensure_min_partitions


def test_small_input_widens(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "id long")
    out = ensure_min_partitions(df, 8)
    assert out.rdd.getNumPartitions() == 8  # .rdd in the TEST only
    assert sorted(r.id for r in out.collect()) == list(range(10))


def test_many_input_files_skip_repartition(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("many_files"))
    spark.createDataFrame([(i,) for i in range(40)], "id long").repartition(
        8
    ).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    out = ensure_min_partitions(df, 4)
    assert out is df  # >= n input files → untouched, no extra shuffle


def test_streaming_frame_untouched(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream_src"))
    spark.createDataFrame([(1,)], "id long").write.mode("overwrite").parquet(path)
    schema = spark.read.parquet(path).schema
    sdf = spark.readStream.format("parquet").schema(schema).load(path)
    out = ensure_min_partitions(sdf, 8)
    assert out is sdf and out.isStreaming


def test_bench_payload_schema():
    # bench artifact guard (r4 VERDICT #8, r8 sentinel meta): per-query
    # order-rotated minima in "queries", failed queries (-1) excluded from
    # the total, sf parsed from the dir, repeats + actual wall + drift
    # sentinel recorded. The driver parses exactly this shape.
    from bench import build_payload

    p = build_payload(
        {"q_ok": 1.5, "q_fast": 0.5, "q_broken": -1.0},
        "/root/testdata/sf0.01",
        repeats=3,
        wall_sec=6.789,
        sentinel_sec=1.234,
        sentinels={"q1_pricing_summary": 1.234},
    )
    assert p["metric"] == "total_query_wall_time" and p["unit"] == "sec"
    assert p["value"] == 2.0  # sum of per-query minima, broken query excluded
    assert p["sf"] == 0.01 and p["repeats"] == 3 and p["wall_sec"] == 6.789
    assert p["queries"]["q_broken"] == -1.0
    assert p["sentinel_sec"] == 1.234 and p["stat"] == "min_of_rotated_repeats"
    import json

    json.dumps(p)  # must be JSON-serializable as one line


def _jobs_run_by(spark, fn):
    """Number of Spark jobs ``fn()`` ran, read from a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_release_cache_drops_memoized_codebooks(spark):
    """A timed run must not reuse a codebook trained by the run before it:
    after ``release_cache`` the same ``cache_key`` trains again."""
    from windflow_spark.functions.similarity import train_codebook, train_pq_codebooks
    from windflow_spark.util import release_cache

    corpus = spark.createDataFrame(
        [(i, [float((i * 7 + d) % 5) for d in range(8)]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    key = ("test-release-cache",)
    trainers = [
        lambda: train_codebook(corpus, key, n_lists=3),
        lambda: train_pq_codebooks(corpus, key, m=2, n_centroids=2, dim=8),
    ]
    for train in trainers:
        release_cache(spark)
        assert _jobs_run_by(spark, train) > 0  # trains
        assert _jobs_run_by(spark, train) == 0  # memo hit
        release_cache(spark)
        assert _jobs_run_by(spark, train) > 0  # trains again
    release_cache(spark)
