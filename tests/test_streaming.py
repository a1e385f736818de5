"""Streaming forms produce the SAME results as the oracle-checked batch
forms on identical data (batch≡streaming metamorphic invariant, SURVEY.md
§5). Fixtures stream from a temp parquet dir via availableNow."""

from __future__ import annotations

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F

from windflow_spark.operators.windows import (
    session_window_agg,
    tumbling_window_cb,
    tumbling_window_tb,
)
from windflow_spark.operators.reduce import rolling_reduce
from windflow_spark.operators.interval_join import interval_join
from windflow_spark.streaming import (
    file_stream,
    streaming_interval_join,
    streaming_rolling_reduce,
    streaming_session_window,
    streaming_tumbling_window_cb,
    streaming_tumbling_window_tb,
    to_memory_sink,
)

SEC = 1_000_000


def _mk(spark, rows):
    return spark.createDataFrame(
        [(k, v, dt.datetime(2024, 1, 1) + dt.timedelta(microseconds=ts)) for k, v, ts in rows],
        "key long, value long, ts timestamp",
    )


@pytest.fixture(scope="module")
def stream_fixture(spark, tmp_path_factory):
    rows = [(k % 3, v, v * 700_000 + k * 13_000) for k, v in ((i % 5, i) for i in range(60))]
    batch = _mk(spark, rows)
    path = str(tmp_path_factory.mktemp("stream_src"))
    batch.coalesce(2).write.mode("overwrite").parquet(path)
    stream = file_stream(spark, path, batch.schema)
    return batch, stream


def _rows(spark, name, cols):
    return sorted(map(tuple, spark.table(name).select(*cols).collect()))


def test_streaming_tumbling_tb_equals_batch(spark, stream_fixture):
    batch, stream = stream_fixture
    aggs = [F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv")]
    expect = sorted(
        map(tuple, tumbling_window_tb(batch, ["key"], "ts", 7 * SEC, aggs)
            .select("key", "w_start", "cnt", "sv").collect())
    )
    out = streaming_tumbling_window_tb(stream, ["key"], "ts", 7 * SEC, aggs)
    name, _ = to_memory_sink(out.select("key", "w_start", "cnt", "sv"), output_mode="complete")
    assert _rows(spark, name, ["key", "w_start", "cnt", "sv"]) == expect


def test_streaming_session_equals_batch(spark, stream_fixture):
    batch, stream = stream_fixture
    expect = sorted(
        map(tuple, session_window_agg(
            batch, ["key"], "ts", ["ts", "value"], 2 * SEC,
            [F.min("ts").alias("session_start"), F.count(F.lit(1)).alias("cnt"),
             F.sum("value").alias("sv")],
        ).select("key", "session_start", "cnt", "sv").collect())
    )
    out = streaming_session_window(
        stream, ["key"], "ts", 2 * SEC,
        [F.min("ts").alias("session_start2"), F.count(F.lit(1)).alias("cnt"),
         F.sum("value").alias("sv")],
    )
    name, _ = to_memory_sink(
        out.select("key", "session_start", "cnt", "sv"), output_mode="complete"
    )
    assert _rows(spark, name, ["key", "session_start", "cnt", "sv"]) == expect


def test_streaming_interval_join_equals_batch(spark, stream_fixture, tmp_path_factory):
    batch, stream = stream_fixture
    other_rows = [(k % 3, v + 1000, v * 700_000 + 350_000) for k, v in ((i % 5, i) for i in range(40))]
    other_batch = _mk(spark, other_rows)
    path_b = str(tmp_path_factory.mktemp("stream_b"))
    other_batch.coalesce(1).write.mode("overwrite").parquet(path_b)
    other_stream = file_stream(spark, path_b, other_batch.schema)

    expect = sorted(
        map(tuple, interval_join(batch, other_batch, ["key"], "ts", "ts", 0, 1 * SEC)
            .select("a.value", "b.value").collect())
    )
    j = streaming_interval_join(stream, other_stream, ["key"], "ts", "ts", 0, 1 * SEC)
    name, _ = to_memory_sink(
        j.select(F.col("a.value").alias("av"), F.col("b.value").alias("bv"))
    )
    assert _rows(spark, name, ["av", "bv"]) == expect and len(expect) > 0


def test_streaming_rolling_reduce_equals_batch(spark, stream_fixture):
    batch, stream = stream_fixture
    expect = sorted(
        map(tuple, rolling_reduce(batch, ["key"], ["ts"], {"running_cnt": F.count(F.lit(1)),
                                                          "running_sum": F.sum("value")})
            .select("key", "ts", "running_cnt", "running_sum").collect())
    )
    out = streaming_rolling_reduce(stream, ["key"], "ts", "value")
    name, _ = to_memory_sink(out, output_mode="append")
    got = sorted(
        (r.key, r.ts, r.running_cnt, int(r.running_sum))
        for r in spark.table(name).collect()
    )
    assert got == [(k, t, c, int(s)) for k, t, c, s in expect]


def test_streaming_cb_window_fires_complete_windows(spark, stream_fixture):
    batch, stream = stream_fixture
    # batch CB windows of length 4, keep only COMPLETE ones (streaming fires
    # on fill; trailing partials stay in state until EOS teardown)
    complete = (
        tumbling_window_cb(batch, ["key"], ["ts"], 4,
                           [F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv")])
        .filter(F.col("cnt") == 4)
    )
    expect = sorted(
        (r.key, r.wid, r.cnt, float(r.sv)) for r in complete.collect()
    )
    out = streaming_tumbling_window_cb(stream, ["key"], "ts", "value", 4)
    name, _ = to_memory_sink(out, output_mode="append")
    got = sorted(
        (r.key, r.wid, r.cnt, float(r.sum_value)) for r in spark.table(name).collect()
    )
    assert got == expect and len(expect) > 0


def test_streaming_cb_window_eos_flush_matches_batch(spark, tmp_path_factory):
    """With in-band EOS punctuations the streaming CB window emits the
    TRAILING PARTIALS too, matching the batch form exactly (the reference
    fires all open windows at end of stream, wf/window_replica.hpp:356-400).
    """
    from windflow_spark.streaming import cb_eos_punctuations

    rows = [(k % 3, v, v * 700_000 + k * 13_000) for k, v in ((i % 5, i) for i in range(57))]
    batch = _mk(spark, rows)
    # full batch semantics: every non-empty window, including partials
    expect = sorted(
        (r.key, r.wid, r.cnt, float(r.sv))
        for r in tumbling_window_cb(
            batch, ["key"], ["ts"], 4,
            [F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv")],
        ).collect()
    )
    with_flag = batch.withColumn("eos", F.lit(False))
    src = with_flag.unionByName(cb_eos_punctuations(batch, ["key"], "ts"))
    path = str(tmp_path_factory.mktemp("cb_eos_src"))
    src.coalesce(1).write.mode("overwrite").parquet(path)
    stream = file_stream(spark, path, src.schema)
    out = streaming_tumbling_window_cb(stream, ["key"], "ts", "value", 4, eos_col="eos")
    name, _ = to_memory_sink(out, output_mode="append")
    got = sorted(
        (r.key, r.wid, r.cnt, float(r.sum_value)) for r in spark.table(name).collect()
    )
    assert got == expect and len(expect) > 0
    # partials really exist in this fixture (57 rows per-key counts not /4)
    assert any(c != 4 for _, _, c, _ in expect)


def test_streaming_state_carries_across_microbatches(spark, tmp_path_factory):
    """maxFilesPerTrigger=1 forces one micro-batch PER FILE, so per-key
    state (progressive ids, open partial windows, running folds) must
    survive batch boundaries — where state bugs hide. Data lands in three
    files, the EOS punctuation in a fourth written last (file source
    processes oldest-mtime first); output must equal the batch form
    including trailing partials."""
    import time as _time

    from windflow_spark.streaming import cb_eos_punctuations

    rows = [(k % 3, v, v * 700_000 + k * 13_000) for k, v in ((i % 5, i) for i in range(45))]
    batch = _mk(spark, rows)
    expect_cb = sorted(
        (r.key, r.wid, r.cnt, float(r.sv))
        for r in tumbling_window_cb(
            batch, ["key"], ["ts"], 4,
            [F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv")],
        ).collect()
    )
    path = str(tmp_path_factory.mktemp("xbatch_src"))
    with_flag = batch.withColumn("eos", F.lit(False))
    # CB windows follow ARRIVAL order (per-key progressive ids), which the
    # batch form models as ts order — so each file must be a ts-CONTIGUOUS
    # segment and files must arrive oldest-mtime-first (hence the sleeps)
    for lo, hi in ((0, 15), (15, 30), (30, 45)):
        with_flag.filter(
            (F.col("value") >= lo) & (F.col("value") < hi)
        ).coalesce(1).write.mode("append").parquet(path)
        _time.sleep(1.1)
    cb_eos_punctuations(batch, ["key"], "ts").coalesce(1).write.mode(
        "append"
    ).parquet(path)

    stream = file_stream(spark, path, with_flag.schema, max_files_per_trigger=1)
    out = streaming_tumbling_window_cb(stream, ["key"], "ts", "value", 4, eos_col="eos")
    name, q = to_memory_sink(out, output_mode="append")
    assert q.lastProgress is not None  # ran as a real multi-batch query
    got = sorted(
        (r.key, r.wid, r.cnt, float(r.sum_value)) for r in spark.table(name).collect()
    )
    assert got == expect_cb and any(c != 4 for _, _, c, _ in expect_cb)

    # rolling reduce: the final running sum per key must equal the key total
    stream2 = file_stream(spark, path, with_flag.schema, max_files_per_trigger=1)
    rr = streaming_rolling_reduce(
        stream2.filter(~F.col("eos")), ["key"], "ts", "value"
    )
    name2, _ = to_memory_sink(rr, output_mode="append")
    per_key = {}
    for r in spark.table(name2).collect():
        per_key[r.key] = max(per_key.get(r.key, 0.0), r.running_sum)
    expect_tot = {}
    for k, v, _ in rows:
        expect_tot[k] = expect_tot.get(k, 0) + v
    assert {k: int(v) for k, v in per_key.items()} == expect_tot


def test_streaming_kslack_equals_batch_replay(spark, tmp_path_factory):
    """Streaming K-slack (PROBABILISTIC collector) ≡ the batch replay on
    the same arrival sequence — including across micro-batch boundaries
    (tcurr/K/horizon/buffer all live in state). A max-ts punctuation per
    key drains both forms identically (batch flushes at EOS; streaming has
    no EOS, so the drain is in-band), then sentinel rows are stripped."""
    import random
    import time as _time

    from windflow_spark.operators.kslack import kslack_reorder
    from windflow_spark.streaming import streaming_kslack

    SENT = 10_000_000_000
    rows = []
    # three independently-seeded disorder patterns, one per key — each key
    # is its own equivalence case (per-key state), so this is a 3-seed
    # property check in a single streaming run
    for key, seed in ((0, 7), (1, 23), (2, 1009)):
        rng = random.Random(seed)
        arrivals = []
        t = 0
        for i in range(40):
            t += rng.randint(1, 5) * 1_000_000
            arrivals.append(t + rng.choice([0, -2_000_000, -4_500_000, 1_000_000]))
        rows += [(key, max(ts, 0), i, i * 10 + key) for i, ts in enumerate(arrivals)]
    punct = [(k, SENT, 1_000, -1) for k in (0, 1, 2)]
    schema = "key long, ts_us long, arrival long, value long"
    full = spark.createDataFrame(rows + punct, schema)

    expect = sorted(
        (r.key, r.ts_us, r.arrival, r.value, r.emit_seq)
        for r in kslack_reorder(full, ["key"], "ts_us", "arrival").collect()
        if r.ts_us < SENT
    )

    path = str(tmp_path_factory.mktemp("kslack_src"))
    halves = [
        [r for r in rows if r[2] < 20],
        [r for r in rows if r[2] >= 20] + punct,
    ]
    for part in halves:
        spark.createDataFrame(part, schema).coalesce(1).write.mode("append").parquet(path)
        _time.sleep(1.1)
    stream = file_stream(spark, path, full.schema, max_files_per_trigger=1)
    out = streaming_kslack(stream, ["key"], "ts_us", "arrival", ["value"])
    name, q = to_memory_sink(out, output_mode="append")
    got = sorted(
        (r.key, r.ts_us, r.arrival, r.value, r.emit_seq)
        for r in spark.table(name).collect()
        if r.ts_us < SENT
    )
    assert got == expect and len(expect) > 50  # most tuples released


def _mc_kslack(spark):
    from windflow_spark.operators.kslack import kslack_reorder
    from windflow_spark.streaming import streaming_kslack

    SENT = 10_000_000_000
    rng = random.Random(42)
    arrivals = []
    t = 0
    for i in range(60):
        t += rng.randint(1, 5) * 1_000_000
        arrivals.append(t + rng.choice([0, -2_000_000, -4_500_000, 1_000_000]))
    rows = [(0, max(ts, 0), i, i * 10) for i, ts in enumerate(arrivals)]
    # TWO increasing punctuations: one only raises the release limit to
    # min(recent ts) (K grows with it); the second drains the full buffer,
    # matching the batch form's EOS flush (see streaming_kslack docstring)
    punct = [(0, SENT, 1_000, -1), (0, 2 * SENT, 1_001, -1)]
    schema = "key long, ts_us long, arrival long, value long"
    cols = ["key", "ts_us", "arrival", "value", "emit_seq"]
    full = spark.createDataFrame(rows + punct, schema)
    expect = [
        r for r in map(tuple, kslack_reorder(full, ["key"], "ts_us", "arrival")
                       .select(*cols).collect())
        if r[1] < SENT
    ]

    def run(stream):
        out = streaming_kslack(stream, ["key"], "ts_us", "arrival", ["value"])
        return out.filter(F.col("ts_us") < SENT).select(*cols)

    return rows, punct, schema, expect, run


def _mc_rows(eos: bool):
    """One key, 60 rows with distinct timestamps; with ``eos`` the rows carry
    a false eos flag and the tail is the key's EOS punctuation."""
    t0 = dt.datetime(2024, 1, 1)
    rows = [(0, i * 7 % 11, t0 + dt.timedelta(seconds=i)) for i in range(60)]
    if not eos:
        return rows, [], "key long, value long, ts timestamp"
    tail = [(0, None, rows[-1][2], True)]
    return [r + (False,) for r in rows], tail, "key long, value long, ts timestamp, eos boolean"


def _mc_rolling_reduce(spark):
    rows, tail, schema = _mc_rows(eos=False)
    folds = {"running_cnt": F.count(F.lit(1)), "running_sum": F.sum("value")}
    cols = ["key", "ts", "running_cnt", "running_sum"]
    expect = rolling_reduce(spark.createDataFrame(rows, schema), ["key"], ["ts"], folds)
    return rows, tail, schema, expect.select(*cols).collect(), (
        lambda stream: streaming_rolling_reduce(stream, ["key"], "ts", "value").select(*cols)
    )


def _mc_cb(spark, slide):
    from windflow_spark.operators.windows import sliding_window_cb
    from windflow_spark.streaming import streaming_sliding_window_cb

    rows, tail, schema = _mc_rows(eos=True)
    aggs = [F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sum_value")]
    batch = spark.createDataFrame(rows, schema)
    cols = ["key", "wid", "cnt", "sum_value"]
    if slide is None:
        expect = tumbling_window_cb(batch, ["key"], ["ts"], 7, aggs)
        run = lambda s: streaming_tumbling_window_cb(s, ["key"], "ts", "value", 7, eos_col="eos")
    else:
        expect = sliding_window_cb(batch, ["key"], ["ts"], 6, slide, aggs)
        run = lambda s: streaming_sliding_window_cb(
            s, ["key"], "ts", "value", 6, slide, eos_col="eos"
        )
    return rows, tail, schema, expect.select(*cols).collect(), lambda s: run(s).select(*cols)


def _mc_p_map(spark):
    from pyspark.sql import Window as W

    from windflow_spark.streaming import p_map

    rows, tail, schema = _mc_rows(eos=False)
    lag = F.lag("value", 1, 0).over(W.partitionBy("key").orderBy("ts"))
    expect = spark.createDataFrame(rows, schema).select(
        "key", "ts", (F.col("value") - lag).alias("delta")
    )

    def delta(row, st):
        out = {"key": row["key"], "ts": row["ts"], "delta": row["value"] - st[0]}
        st[0] = row["value"]
        return out

    return rows, tail, schema, expect.collect(), lambda stream: p_map(
        stream, ["key"], "ts", delta, "key long, ts timestamp, delta long", "last long", (0,)
    )


_MULTICHUNK = {
    "kslack": _mc_kslack,
    "rolling_reduce": _mc_rolling_reduce,
    "tumbling_cb_eos": lambda spark: _mc_cb(spark, None),
    "sliding_cb_eos": lambda spark: _mc_cb(spark, 2),
    "p_map": _mc_p_map,
}


@pytest.mark.parametrize("case", list(_MULTICHUNK))
def test_streaming_multichunk_group(spark, tmp_path_factory, case):
    """A group larger than arrow.maxRecordsPerBatch reaches the state
    function as MULTIPLE pandas chunks with no cross-chunk order guarantee;
    the fold must order the CONCATENATED micro-batch, not each chunk
    independently. Forced here by shrinking maxRecordsPerBatch to 8 and
    scrambling one key's 60-row batch so chunk-local order != global order;
    a tail file (punctuations), when present, lands in a later micro-batch.
    Output must equal the batch sibling's."""
    import time as _time

    rows, tail, schema, expect, run = _MULTICHUNK[case](spark)
    scrambled = list(rows)
    random.Random(42).shuffle(scrambled)  # chunk-local order != global order
    path = str(tmp_path_factory.mktemp(f"multichunk_{case}"))
    spark.createDataFrame(scrambled, schema).coalesce(1).write.mode("append").parquet(path)
    if tail:
        _time.sleep(1.1)
        spark.createDataFrame(tail, schema).coalesce(1).write.mode("append").parquet(path)

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8")
    try:
        stream = file_stream(spark, path, schema, max_files_per_trigger=1)
        name, _ = to_memory_sink(run(stream), output_mode="append")
        got = sorted(map(tuple, spark.table(name).collect()))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    assert got == sorted(map(tuple, expect)) and len(expect) > 8


def test_streaming_exact_dedup_equals_batch(spark, stream_fixture):
    from windflow_spark.streaming import streaming_exact_dedup

    batch, stream = stream_fixture
    # duplicate key-space: value % 7 collides within the fixture
    expect = batch.withColumn("dk", F.col("value") % 7).dropDuplicates(["key", "dk"]).count()
    out = streaming_exact_dedup(
        stream.withColumn("dk", F.col("value") % 7), ["key", "dk"], "ts", 60 * SEC
    )
    name, _ = to_memory_sink(out, output_mode="append")
    assert spark.table(name).count() == expect


def test_parquet_sink_checkpoint_exactly_once(spark, tmp_path_factory):
    """Restart semantics: re-running from the same checkpoint processes only
    NEW input files — rows land in the durable sink exactly once."""
    from windflow_spark.streaming import file_stream, to_parquet_sink, run_available_now

    src = str(tmp_path_factory.mktemp("eo_src"))
    out = str(tmp_path_factory.mktemp("eo_out"))
    ckpt = str(tmp_path_factory.mktemp("eo_ckpt"))

    first = _mk(spark, [(k, v, v * SEC) for k, v in ((i % 3, i) for i in range(20))])
    first.coalesce(1).write.mode("append").parquet(src)
    stream = lambda: file_stream(spark, src, first.schema)

    run_available_now(to_parquet_sink(stream(), out, ckpt))
    assert spark.read.parquet(out).count() == 20

    # second batch of files arrives; SAME checkpoint → only the delta runs
    second = _mk(spark, [(k, v + 100, (v + 100) * SEC) for k, v in ((i % 3, i) for i in range(15))])
    second.coalesce(1).write.mode("append").parquet(src)
    run_available_now(to_parquet_sink(stream(), out, ckpt))

    got = spark.read.parquet(out)
    assert got.count() == 35                      # no reprocessing of batch 1
    assert got.select("value").distinct().count() == 35


def test_closing_hook_fires_on_termination(spark, stream_fixture):
    from windflow_spark.streaming import on_query_terminated

    _, stream = stream_fixture
    closed = []
    listener = on_query_terminated(spark, closed.append)
    try:
        name, q = to_memory_sink(stream.select("key"), output_mode="append")
        # availableNow terminates on its own; listener delivery is async
        import time
        for _ in range(40):
            if str(q.id) in closed:
                break
            time.sleep(0.25)
        assert str(q.id) in closed
    finally:
        spark.streams.removeListener(listener)


def test_streaming_static_enrich_picks_up_dim_updates(spark, tmp_path_factory):
    """Stream-static join: the static file listing snapshots at plan
    creation, so a dimension overwrite is picked up when the checkpointed
    query RESTARTS (plan recreated) — the standard SCD refresh pattern
    without Delta/Iceberg. The restarted run must process only the new
    stream file, joined against the new dimension contents."""
    import time as _time

    from windflow_spark.streaming import streaming_static_enrich

    src = str(tmp_path_factory.mktemp("enrich_src"))
    dim_path = str(tmp_path_factory.mktemp("enrich_dim"))
    rows1 = _mk(spark, [(0, 1, 0), (1, 2, 1_000_000)])
    rows1.coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame([(0, "a"), (1, "b")], "key long, tag string").coalesce(
        1
    ).write.mode("overwrite").parquet(dim_path)

    stream = file_stream(spark, src, rows1.schema, max_files_per_trigger=1)
    dim = spark.read.parquet(dim_path)
    out = streaming_static_enrich(stream, dim, on="key").select("key", "value", "tag")

    # memory sink cannot recover a checkpoint; use the durable parquet sink
    out_path = str(tmp_path_factory.mktemp("enrich_out"))
    ckpt = str(tmp_path_factory.mktemp("enrich_ckpt"))
    writer = (
        out.writeStream.format("parquet").option("path", out_path)
        .option("checkpointLocation", ckpt).outputMode("append")
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    first = {(r.key, r.value): r.tag for r in spark.read.parquet(out_path).collect()}
    assert first == {(0, 1): "a", (1, 2): "b"}

    # update the dimension AND append new stream rows; a new run of the
    # same checkpointed query processes only the new file, against the
    # NEW dimension contents
    spark.createDataFrame([(0, "a2"), (1, "b2")], "key long, tag string").coalesce(
        1
    ).write.mode("overwrite").parquet(dim_path)
    _time.sleep(1.1)
    _mk(spark, [(0, 3, 2_000_000)]).coalesce(1).write.mode("append").parquet(src)

    # restart = recreate the plan (fresh dim read), same checkpoint
    stream2 = file_stream(spark, src, rows1.schema, max_files_per_trigger=1)
    out2 = streaming_static_enrich(
        stream2, spark.read.parquet(dim_path), on="key"
    ).select("key", "value", "tag")
    q2 = (
        out2.writeStream.format("parquet").option("path", out_path)
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(availableNow=True).start()
    )
    q2.awaitTermination()
    tags = {(r.key, r.value): r.tag for r in spark.read.parquet(out_path).collect()}
    assert tags[(0, 3)] == "a2"
    # earlier batch's rows were written with the old dimension and stay
    assert tags[(0, 1)] == "a" and tags[(1, 2)] == "b"


def test_streaming_cb_sliding_eos_flush_matches_batch(spark, tmp_path_factory):
    """Streaming CB SLIDING windows with EOS punctuations must equal the
    batch form exactly (complete windows fire on fill; trailing partials
    flush at EOS), including across micro-batch boundaries."""
    import time as _time

    from windflow_spark.operators.windows import sliding_window_cb
    from windflow_spark.streaming import (
        cb_eos_punctuations,
        streaming_sliding_window_cb,
    )

    rows = [(k % 3, v, v * 700_000 + k * 13_000) for k, v in ((i % 5, i) for i in range(53))]
    batch = _mk(spark, rows)
    expect = sorted(
        (r.key, r.wid, r.cnt, float(r.sv))
        for r in sliding_window_cb(
            batch, ["key"], ["ts"], 6, 2,
            [F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv")],
        ).collect()
    )
    path = str(tmp_path_factory.mktemp("cbs_src"))
    with_flag = batch.withColumn("eos", F.lit(False))
    # two ts-contiguous segments + the EOS file, forced into separate
    # micro-batches so open sliding windows span batch boundaries
    for lo, hi in ((0, 27), (27, 53)):
        with_flag.filter(
            (F.col("value") >= lo) & (F.col("value") < hi)
        ).coalesce(1).write.mode("append").parquet(path)
        _time.sleep(1.1)
    cb_eos_punctuations(batch, ["key"], "ts").coalesce(1).write.mode(
        "append"
    ).parquet(path)

    stream = file_stream(spark, path, with_flag.schema, max_files_per_trigger=1)
    out = streaming_sliding_window_cb(
        stream, ["key"], "ts", "value", 6, 2, eos_col="eos"
    )
    name, _ = to_memory_sink(out, output_mode="append")
    got = sorted(
        (r.key, r.wid, r.cnt, float(r.sum_value)) for r in spark.table(name).collect()
    )
    assert got == expect and len(expect) > 0
    assert any(c != 6 for _, _, c, _ in expect)  # partials present


def test_p_sink_foreach_batch_external_store_idempotent(spark, tmp_path_factory):
    """P_Sink analog (reference wf/p_sink.hpp: user sink with persistent
    external state): foreachBatch upserts each micro-batch into an external
    keyed store. Pins the user-visible contract directly — batch ids are
    contiguous, a restart from the same checkpoint re-delivers NO completed
    batch (store content identical before/after), and the store converges
    to latest-value-per-key."""
    import json
    import os

    from windflow_spark.streaming import file_stream, to_foreach_batch, run_available_now

    src = str(tmp_path_factory.mktemp("psink_src"))
    ckpt = str(tmp_path_factory.mktemp("psink_ckpt"))
    store_path = os.path.join(str(tmp_path_factory.mktemp("psink_store")), "store.json")

    def upsert(batch_df, batch_id):
        store = json.load(open(store_path)) if os.path.exists(store_path) else {
            "kv": {}, "batches": []
        }
        for r in batch_df.orderBy("ts").collect():  # sink-side user code may collect
            store["kv"][str(r.key)] = r.value
        store["batches"].append(batch_id)
        json.dump(store, open(store_path, "w"))

    first = _mk(spark, [(k, v, v * SEC) for k, v in ((i % 3, i) for i in range(12))])
    first.coalesce(1).write.mode("append").parquet(src)
    run_available_now(to_foreach_batch(file_stream(spark, src, first.schema), upsert, ckpt))
    store1 = json.load(open(store_path))
    # latest value per key: max i per key since ts orders by v
    assert store1["kv"] == {"0": 9, "1": 10, "2": 11}

    # restart with the SAME checkpoint and no new input → no batch re-runs
    run_available_now(to_foreach_batch(file_stream(spark, src, first.schema), upsert, ckpt))
    store2 = json.load(open(store_path))
    assert store2 == store1

    # new file → exactly one more batch, store converges to the new values
    second = _mk(spark, [(0, 100, 100 * SEC), (2, 200, 200 * SEC)])
    second.coalesce(1).write.mode("append").parquet(src)
    run_available_now(to_foreach_batch(file_stream(spark, src, first.schema), upsert, ckpt))
    store3 = json.load(open(store_path))
    assert store3["kv"] == {"0": 100, "1": 10, "2": 200}
    assert store3["batches"] == sorted(store3["batches"])
    assert len(store3["batches"]) == len(store1["batches"]) + 1


def test_streaming_sliding_tb_equals_batch(spark, stream_fixture):
    from windflow_spark.operators.windows import sliding_window_tb
    from windflow_spark.streaming import streaming_sliding_window_tb

    batch, stream = stream_fixture
    aggs = [F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv")]
    expect = sorted(
        map(tuple, sliding_window_tb(batch, ["key"], "ts", 6 * SEC, 2 * SEC, aggs)
            .select("key", "w_start", "cnt", "sv").collect())
    )
    out = streaming_sliding_window_tb(stream, ["key"], "ts", 6 * SEC, 2 * SEC, aggs)
    name, _ = to_memory_sink(out.select("key", "w_start", "cnt", "sv"),
                             output_mode="complete")
    assert _rows(spark, name, ["key", "w_start", "cnt", "sv"]) == expect
    assert len(expect) > 0


def test_ordered_foreach_batch_is_deterministic(spark, tmp_path_factory):
    """Ordering_Collector analog (VERDICT r2 missing #4): delivery order to
    the sink must be a pure function of the DATA — identical across runs
    with different input partitioning/file layout, and sorted by
    (ts, tiebreak) within each trigger."""
    from windflow_spark.streaming import file_stream, ordered_foreach_batch

    rows = [(i * 37 % 11, i, dt.datetime(2024, 1, 1, 0, 0, i % 50)) for i in range(40)]
    df = spark.createDataFrame(rows, "key long, value long, ts timestamp")

    def run_once(n_files):
        path = str(tmp_path_factory.mktemp(f"ord_src_{n_files}"))
        df.repartition(n_files).write.mode("overwrite").parquet(path)
        stream = file_stream(spark, path, df.schema)
        delivered = []

        def deliver(sorted_batch, batch_id):
            delivered.extend(
                (r.ts, r.key, r.value) for r in sorted_batch.collect()
            )

        q = (
            ordered_foreach_batch(stream, "ts", ["key", "value"], deliver)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        return delivered

    a = run_once(2)
    b = run_once(7)  # different file layout → different arrival order
    assert a == b  # delivery order is data-determined
    assert a == sorted(a)  # and it IS the (ts, key, value) order
    assert len(a) == 40


def test_stream_monitor_collects_progress(spark, stream_fixture):
    """monitor_streams (WF_TRACING_ENABLED analog, reference
    wf/basic.hpp:259): the listener must record per-query batches, input
    rows, and stateful-operator rows without touching the data path."""
    import time

    from windflow_spark.streaming import monitor_streams, streaming_tumbling_window_tb
    from windflow_spark.streaming.monitor import PHASES

    _, stream = stream_fixture
    raw = []
    mon = monitor_streams(spark, sink=raw.append)
    try:
        out = streaming_tumbling_window_tb(
            stream, ["key"], "ts", 7 * SEC, [F.count(F.lit(1)).alias("cnt")]
        )
        name, q = to_memory_sink(out, output_mode="complete")
        q.awaitTermination(60)
        # listener-bus delivery is async — poll briefly for the progress event
        stats = {}
        for _ in range(50):
            stats = mon.stats()
            if any(s["total_input_rows"] > 0 for s in stats.values()):
                break
            time.sleep(0.2)
        rows = [s for s in stats.values() if s["total_input_rows"] > 0]
        assert rows, f"no progress recorded: {stats}"
        s = rows[0]
        assert s["batches"] >= 1
        assert s["total_input_rows"] == 60  # the fixture's row count
        assert s["state_rows"] > 0  # windowed agg keeps state
        # the per-batch durationMs breakdown and the state commit time
        for key in (*PHASES, "state_commit_ms_p50"):
            assert s[key] is not None and s[key] >= 0, key
        assert raw and isinstance(raw[0], dict)  # sink got raw progress dicts
        assert mon.history(list(stats)[0])
    finally:
        mon.remove()


def test_streaming_hopping_tb_gaps_equals_batch(spark, stream_fixture):
    """Hopping windows WITH GAPS (len < slide, reference wf semantics:
    events between windows belong to no window) — streaming window(len,
    slide) must equal the batch explode form, including dropping gap events
    (VERDICT r2 next-round #6)."""
    from windflow_spark.operators.windows import sliding_window_tb
    from windflow_spark.streaming import streaming_sliding_window_tb

    batch, stream = stream_fixture
    aggs = [F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv")]
    # len 3s, slide 8s: 5s gaps — a strict subset of events is windowed
    expect = sorted(
        map(tuple, sliding_window_tb(batch, ["key"], "ts", 3 * SEC, 8 * SEC, aggs)
            .select("key", "w_start", "cnt", "sv").collect())
    )
    total = batch.count()
    windowed = sum(r[2] for r in expect)
    assert 0 < windowed < total  # the config genuinely leaves gaps
    out = streaming_sliding_window_tb(stream, ["key"], "ts", 3 * SEC, 8 * SEC, aggs)
    name, _ = to_memory_sink(out.select("key", "w_start", "cnt", "sv"),
                             output_mode="complete")
    assert _rows(spark, name, ["key", "w_start", "cnt", "sv"]) == expect


def test_streaming_sliding_equals_batch_paned(spark, stream_fixture):
    """paned_window_tb (explicit PLQ/WLQ two-level pane aggregation) is a
    physical variant of the same logical sliding window — its batch result
    must equal the STREAMING window(len, slide) output under availableNow
    replay, closing the last untested batch↔streaming pair (VERDICT r2
    next-round #6)."""
    from windflow_spark.operators.windows import paned_window_tb
    from windflow_spark.streaming import streaming_sliding_window_tb

    batch, stream = stream_fixture
    # paned aggs are (pane_expr, combine_expr) pairs: count/sum lift+combine
    expect = sorted(
        map(tuple, paned_window_tb(
            batch, ["key"], "ts", 6 * SEC, 2 * SEC,
            pane_aggs=[F.count(F.lit(1)).alias("_pc"), F.sum("value").alias("_ps")],
            final_aggs=[F.sum("_pc").alias("cnt"), F.sum("_ps").alias("sv")],
        ).select("key", "w_start", "cnt", "sv").collect())
    )
    out = streaming_sliding_window_tb(
        stream, ["key"], "ts", 6 * SEC, 2 * SEC,
        [F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv")],
    )
    name, _ = to_memory_sink(out.select("key", "w_start", "cnt", "sv"),
                             output_mode="complete")
    assert _rows(spark, name, ["key", "w_start", "cnt", "sv"]) == expect
    assert len(expect) > 0


def test_streaming_rolling_zscore_equals_batch(spark, tmp_path_factory):
    """The incremental z-score (trailing bucket counts in GroupState) must
    match the batch RANGE-frame form bucket-for-bucket across micro-batch
    boundaries, including the min-periods NULL gating and the EOS flush of
    the final open bucket."""
    import datetime as _dt
    import time as _time

    from windflow_spark.operators.timeseries import rolling_zscore
    from windflow_spark.streaming import cb_eos_punctuations, streaming_rolling_zscore

    US_H = 3_600_000_000
    rows = []  # (key, ts_us): counts vary per (key, bucket)
    for k in (1, 2):
        for b in range(30):
            for j in range((k * 7 + b * 13) % 5 + 1):
                rows.append((k, b * US_H + j * 60_000_000 + k))
    base = _dt.datetime(2024, 1, 1)
    batch_ts = spark.createDataFrame(
        [(k, base + _dt.timedelta(microseconds=us), 1.0) for k, us in rows],
        "key long, ts timestamp, value double",
    )
    expect = {}
    for r in rolling_zscore(
        batch_ts, ["key"], "ts", "value", bucket_us=US_H, lookback=6, min_periods=3
    ).collect():
        us = int((r.bucket_start.replace(tzinfo=None) - base).total_seconds() * 1e6)
        expect[(r.key, us)] = (r.cnt, r.zscore)

    src_df = spark.createDataFrame(rows, "key long, ts long").withColumn(
        "eos", F.lit(False)
    )
    path = str(tmp_path_factory.mktemp("zscore_src"))
    for lo, hi in ((0, 10), (10, 20), (20, 30)):  # ts-contiguous chunks
        src_df.filter(
            (F.col("ts") >= lo * US_H) & (F.col("ts") < hi * US_H)
        ).coalesce(1).write.mode("append").parquet(path)
        _time.sleep(1.1)
    cb_eos_punctuations(
        spark.createDataFrame(rows, "key long, ts long"), ["key"], "ts"
    ).coalesce(1).write.mode("append").parquet(path)

    stream = file_stream(spark, path, src_df.schema, max_files_per_trigger=1)
    out = streaming_rolling_zscore(
        stream, ["key"], "ts", bucket_us=US_H, lookback=6, min_periods=3, eos_col="eos"
    )
    name, q = to_memory_sink(out, output_mode="append")
    assert q.lastProgress is not None
    got = {
        (r.key, r.bucket_start): (r.cnt, r.zscore)
        for r in spark.table(name).collect()
    }
    assert set(got) == set(expect) and len(expect) == 60
    for kk in expect:
        assert got[kk][0] == expect[kk][0], kk
        ez, gz = expect[kk][1], got[kk][1]
        if ez is None:
            assert gz is None, kk
        else:
            assert gz is not None and abs(gz - ez) <= 0.011, (kk, ez, gz)
    # the gating is actually exercised: both null and non-null scores exist
    zs = [z for _, z in expect.values()]
    assert any(z is None for z in zs) and any(z is not None for z in zs)


def test_streaming_cb_hopping_gaps_matches_batch(spark, tmp_path_factory):
    """CB hopping-with-gaps (len=3 < slide=7): gap rows belong to NO
    window in both forms; fired windows and EOS-flushed partials must match
    the batch assignment exactly across micro-batch boundaries (the
    reference supports len<slide for CB windows too,
    wf/window_replica.hpp:267-273)."""
    import time as _time

    from windflow_spark.operators.windows import sliding_window_cb
    from windflow_spark.streaming import (
        cb_eos_punctuations,
        streaming_sliding_window_cb,
    )

    rows = [(k % 3, v, v * 700_000 + k * 13_000) for k, v in ((i % 5, i) for i in range(50))]
    batch = _mk(spark, rows)
    expect = sorted(
        (r.key, r.wid, r.cnt, float(r.sv))
        for r in sliding_window_cb(
            batch, ["key"], ["ts"], 3, 7,
            [F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv")],
        ).collect()
    )
    # gaps actually exist: per-key row counts (~16) exceed one slide, and
    # total assigned rows is LESS than total rows (gap rows unassigned)
    assert sum(c for _, _, c, _ in expect) < len(rows)
    path = str(tmp_path_factory.mktemp("cbh_src"))
    with_flag = batch.withColumn("eos", F.lit(False))
    for lo, hi in ((0, 23), (23, 50)):
        with_flag.filter(
            (F.col("value") >= lo) & (F.col("value") < hi)
        ).coalesce(1).write.mode("append").parquet(path)
        _time.sleep(1.1)
    cb_eos_punctuations(batch, ["key"], "ts").coalesce(1).write.mode(
        "append"
    ).parquet(path)

    stream = file_stream(spark, path, with_flag.schema, max_files_per_trigger=1)
    out = streaming_sliding_window_cb(
        stream, ["key"], "ts", "value", 3, 7, eos_col="eos"
    )
    name, _ = to_memory_sink(out, output_mode="append")
    got = sorted(
        (r.key, r.wid, r.cnt, float(r.sum_value)) for r in spark.table(name).collect()
    )
    assert got == expect and len(expect) > 0


def test_streaming_segment_dedup_equals_batch(spark, tmp_path_factory):
    """First-arrival segment dedup must equal the batch survivor set when
    documents arrive in id order — including duplicates that span
    micro-batch boundaries (state remembers emitted hashes), and per-doc
    reassembly from the surviving segments matches dedup_segments."""
    import time as _time

    from windflow_spark.functions.dedup import dedup_segments
    from windflow_spark.streaming import streaming_segment_dedup

    a, b, c = "w1 w2 w3 w4", "x1 x2 x3 x4", "y1 y2 y3 y4"
    docs = [
        (1, f"{a} {b}"),        # owns a and b
        (2, f"{a} {c}"),        # a is a dup (same batch as doc 1 or later)
        (3, b),                 # dup across the batch boundary
        (4, f"{c} z1 z2 z3 z4"),
    ]
    bdf = spark.createDataFrame(docs, "doc_id long, text string")
    expect_docs = {
        r.doc_id: (r.clean_text, r.n_kept)
        for r in dedup_segments(bdf, seg_tokens=4).collect()
    }

    path = str(tmp_path_factory.mktemp("segdedup_src"))
    for ids in ((1, 2), (3, 4)):  # two micro-batches, id order
        bdf.filter(F.col("doc_id").isin(*ids)).coalesce(1).write.mode(
            "append"
        ).parquet(path)
        _time.sleep(1.1)
    stream = file_stream(spark, path, bdf.schema, max_files_per_trigger=1)
    out = streaming_segment_dedup(stream, seg_tokens=4)
    name, q = to_memory_sink(out, output_mode="append")
    kept = [(r.doc_id, r.seg_idx, r.seg) for r in spark.table(name).collect()]
    # reassemble per doc (a doc's segments never split across batches)
    got_docs = {}
    for doc_id in {d for d, _, _ in kept}:
        segs = sorted((i, s) for d, i, s in kept if d == doc_id)
        got_docs[doc_id] = (" ".join(s for _, s in segs), len(segs))
    assert got_docs == expect_docs
    assert 3 not in got_docs  # doc 3's only segment was owned by doc 1


def test_streaming_split_multiplexes_to_two_sinks(spark, stream_fixture, tmp_path_factory):
    """SURVEY §2.7 split()+select() in STREAMING: one source, one
    foreachBatch, N filtered sub-frames written to N sinks — the
    multiplexing mapping (one pass over each micro-batch, no second
    readStream). Union of the sinks must equal the source; routes must be
    disjoint per the splitting function."""
    from windflow_spark.streaming.sinks import run_available_now, to_foreach_batch

    batch, stream = stream_fixture
    out_a = str(tmp_path_factory.mktemp("split_a"))
    out_b = str(tmp_path_factory.mktemp("split_b"))
    ckpt = str(tmp_path_factory.mktemp("split_ckpt"))

    def route(bdf, _bid):
        bdf.persist()
        bdf.filter(F.col("value") >= 50).write.mode("append").parquet(out_a)
        bdf.filter(F.col("value") < 50).write.mode("append").parquet(out_b)
        bdf.unpersist()

    q = to_foreach_batch(stream, route, ckpt, output_mode="append")
    run_available_now(q)
    a = spark.read.parquet(out_a)
    b = spark.read.parquet(out_b)
    assert a.filter(F.col("value") < 50).count() == 0
    assert b.filter(F.col("value") >= 50).count() == 0
    assert a.count() + b.count() == batch.count()


def test_streaming_heavy_hitters_bounds_and_flush(spark, tmp_path_factory):
    """Zipf token stream split over two micro-batches, EOS punctuation in
    the second; the flushed per-bucket Misra-Gries summaries must satisfy
    the per-bucket bounds vs exact counts: est <= true,
    true - est <= N_bucket/(capacity+1), and every token with
    true > N_bucket/capacity present."""
    import random
    import time as _time

    from windflow_spark.streaming import file_stream as _fs
    from windflow_spark.streaming import streaming_heavy_hitters, to_memory_sink

    rng = random.Random(11)
    toks = [f"k{min(int(1.0 / (rng.random() ** 0.8)), 120)}" for _ in range(8_000)]
    true = {}
    for t in toks:
        true[t] = true.get(t, 0) + 1
    cap, nb = 8, 4

    schema = "token string, is_eos boolean"
    rows = [(t, False) for t in toks]
    path = str(tmp_path_factory.mktemp("hh_src"))
    spark.createDataFrame(rows[:4000], schema).coalesce(1).write.mode("append").parquet(path)
    _time.sleep(1.1)
    spark.createDataFrame(
        rows[4000:] + [(None, True)], schema
    ).coalesce(1).write.mode("append").parquet(path)

    src_schema = spark.createDataFrame(rows[:1], schema).schema
    stream = _fs(spark, path, src_schema, max_files_per_trigger=1)
    out = streaming_heavy_hitters(
        stream, "token", capacity=cap, n_buckets=nb, eos_col="is_eos"
    )
    name, _ = to_memory_sink(out, output_mode="append")
    est = {r.token: r.est for r in spark.table(name).collect()}
    assert 0 < len(est) <= cap * nb

    # recompute each token's bucket load with the engine's own hash
    bdf = spark.createDataFrame([(t,) for t in true], "token string").select(
        "token", F.pmod(F.xxhash64("token"), F.lit(nb)).alias("b")
    )
    bkt_of = {r.token: r.b for r in bdf.collect()}
    n_bucket = {}
    for t, c in true.items():
        n_bucket[bkt_of[t]] = n_bucket.get(bkt_of[t], 0) + c
    for t, e in est.items():
        assert e <= true[t], (t, e, true[t])
    for t, c in true.items():
        nb_tot = n_bucket[bkt_of[t]]
        e = est.get(t, 0)
        assert (c - e) * (cap + 1) <= nb_tot, (t, c, e, nb_tot)
        if c * cap > nb_tot:
            assert t in est, f"guaranteed item {t} missing"


def test_streaming_funnel_matches_batch(spark, tmp_path_factory):
    """Random per-user event sequences split across two micro-batches
    (per-key ts order preserved): streaming conversion counts per stage
    must equal the batch funnel_stages counts, and a user whose later-stage
    event precedes the earlier stage must not convert."""
    import random
    import time as _time

    from windflow_spark.operators.behavior import funnel_stages
    from windflow_spark.streaming import file_stream as _fs
    from windflow_spark.streaming import streaming_funnel, to_memory_sink

    STAGES = ["signup", "view", "purchase"]
    rng = random.Random(5)
    rows = []
    for u in range(30):
        t = 0
        for _ in range(rng.randint(1, 10)):
            t += rng.randint(1, 50)
            rows.append((u, rng.choice(STAGES + ["noise"]), t))
    # adversarial user: view+purchase strictly before signup
    rows += [(99, "view", 10), (99, "purchase", 20), (99, "signup", 30)]
    schema = "user_id long, event_type string, us long"
    full = spark.createDataFrame(rows, schema)
    expect = {
        r.stage: r.n_users
        for r in funnel_stages(
            full, STAGES, us_col=F.col("us")
        ).collect()
    }

    path = str(tmp_path_factory.mktemp("funnel_src"))
    first = [r for r in rows if r[2] <= 100]
    second = [r for r in rows if r[2] > 100]
    spark.createDataFrame(first, schema).coalesce(1).write.mode("append").parquet(path)
    _time.sleep(1.1)
    spark.createDataFrame(second, schema).coalesce(1).write.mode("append").parquet(path)

    stream = _fs(spark, path, full.schema, max_files_per_trigger=1)
    out = streaming_funnel(stream, STAGES)
    name, _ = to_memory_sink(out, output_mode="append")
    got_rows = spark.table(name).collect()
    got = {}
    for r in got_rows:
        got[r.stage] = got.get(r.stage, 0) + 1
    assert {s: got.get(s, 0) for s in STAGES} == {s: expect.get(s, 0) for s in STAGES}
    # adversarial user only ever converts to signup
    assert [(r.stage_idx, r.stage) for r in got_rows if r.user_id == 99] == [
        (0, "signup")
    ]


def test_streaming_interval_join_bucketed_equals_batch(
    spark, stream_fixture, tmp_path_factory
):
    # r5 VERDICT #4: the (key, bucket)-blocked stream-stream interval join
    # must equal the batch bucketed form (itself equivalence-tested against
    # the plain interval join) with rows arriving across MULTIPLE
    # micro-batches (maxFilesPerTrigger=1 over a 2-file side) — buffered
    # state must join a-rows of batch 1 with b-rows of batch 2. Also pins
    # the no-duplicate-pairs property under A-replication in streaming.
    from windflow_spark.operators.interval_join import interval_join_bucketed
    from windflow_spark.streaming import streaming_interval_join_bucketed

    batch, _ = stream_fixture
    src_a = str(tmp_path_factory.mktemp("sij_a"))
    batch.repartition(2).write.mode("overwrite").parquet(src_a)
    stream_a = file_stream(spark, src_a, batch.schema, max_files_per_trigger=1)

    other_rows = [
        (k % 3, v + 1000, v * 700_000 + 350_000)
        for k, v in ((i % 5, i) for i in range(40))
    ]
    other_batch = _mk(spark, other_rows)
    src_b = str(tmp_path_factory.mktemp("sij_b"))
    other_batch.repartition(2).write.mode("overwrite").parquet(src_b)
    stream_b = file_stream(spark, src_b, other_batch.schema, max_files_per_trigger=1)

    expect = sorted(
        map(
            tuple,
            interval_join_bucketed(batch, other_batch, ["key"], "ts", "ts", 0, 1 * SEC)
            .select("a.value", "b.value")
            .collect(),
        )
    )
    j = streaming_interval_join_bucketed(
        stream_a, stream_b, ["key"], "ts", "ts", 0, 1 * SEC
    )
    name, _ = to_memory_sink(
        j.select(F.col("a.value").alias("av"), F.col("b.value").alias("bv"))
    )
    got = _rows(spark, name, ["av", "bv"])
    assert got == expect and len(expect) > 0
    assert len(got) == len(set(got))  # A-replication produced no dup pairs


def test_streaming_cohort_retention_matches_batch(spark, tmp_path_factory):
    """Per-user activity split across two time-ordered micro-batches: the
    summed (cohort, offset) increments must equal the batch
    cohort_retention matrix; a user's re-activity in the same bucket emits
    no second increment."""
    import random
    import time as _time

    from windflow_spark.operators.behavior import cohort_retention
    from windflow_spark.streaming import (
        file_stream as _fs,
        streaming_cohort_retention,
        to_memory_sink,
    )

    BUCKET = 100
    rng = random.Random(11)
    rows = []
    for u in range(25):
        t = rng.randint(0, 300)
        for _ in range(rng.randint(1, 12)):
            rows.append((u, t))
            t += rng.randint(1, 180)
    schema = "user_id long, us long"
    full = spark.createDataFrame(rows, schema)
    expect = sorted(
        (r.cohort_bucket, r.bucket_offset, r.n_users)
        for r in cohort_retention(full, BUCKET, us_col=F.col("us")).collect()
    )

    path = str(tmp_path_factory.mktemp("cohort_src"))
    mid = 500
    spark.createDataFrame([r for r in rows if r[1] <= mid], schema).coalesce(
        1
    ).write.mode("append").parquet(path)
    _time.sleep(1.1)
    spark.createDataFrame([r for r in rows if r[1] > mid], schema).coalesce(
        1
    ).write.mode("append").parquet(path)

    stream = _fs(spark, path, full.schema, max_files_per_trigger=1)
    out = streaming_cohort_retention(stream, BUCKET)
    name, _ = to_memory_sink(out, output_mode="append")
    acc: dict = {}
    for r in spark.table(name).collect():
        k = (r.cohort_bucket, r.bucket_offset)
        acc[k] = acc.get(k, 0) + 1
    got = sorted((c, o, n) for (c, o), n in acc.items())
    assert got == expect and len(expect) > 5


def test_streaming_trending_counts_matches_batch(spark, tmp_path_factory):
    """Per-key daily-ish trend increments across two time-ordered
    micro-batches + an EOS flush file: emitted (bucket, cnt, prev_cnt,
    growth) rows must equal the batch trending_counts frame, including
    lag-skips-empty-buckets semantics."""
    import random
    import time as _time

    from windflow_spark.operators.behavior import trending_counts
    from windflow_spark.streaming import (
        file_stream as _fs,
        streaming_trending_counts,
        to_memory_sink,
    )

    BUCKET = 50
    rng = random.Random(3)
    rows = []
    for k in ("a", "b", "c"):
        t = rng.randint(0, 60)
        for _ in range(rng.randint(5, 25)):
            rows.append((k, t, False))
            t += rng.randint(1, 120)  # some buckets skipped -> lag gap
    schema = "k string, us long, eos boolean"
    data = spark.createDataFrame(rows, schema)
    expect = sorted(
        (r.key, r.bucket, r.cnt, r.prev_cnt, r.growth)
        for r in trending_counts(data, "k", BUCKET, us_col=F.col("us")).collect()
    )

    path = str(tmp_path_factory.mktemp("trend_src"))
    mid = 400
    spark.createDataFrame([r for r in rows if r[1] <= mid], schema).coalesce(
        1
    ).write.mode("append").parquet(path)
    _time.sleep(1.1)
    spark.createDataFrame([r for r in rows if r[1] > mid], schema).coalesce(
        1
    ).write.mode("append").parquet(path)
    _time.sleep(1.1)
    eos = [(k, 10**9, True) for k in ("a", "b", "c")]
    spark.createDataFrame(eos, schema).coalesce(1).write.mode("append").parquet(path)

    stream = _fs(spark, path, data.schema, max_files_per_trigger=1)
    out = streaming_trending_counts(stream, "k", BUCKET, eos_col="eos")
    name, _ = to_memory_sink(out, output_mode="append")
    got = sorted(
        (r.k, r.bucket, r.cnt, r.prev_cnt, r.growth)
        for r in spark.table(name).collect()
    )
    assert got == expect and len(expect) > 10


def test_streaming_ewma_matches_batch(spark, tmp_path_factory):
    """Per-key EWMA increments across two time-ordered micro-batches + an
    EOS flush file: emitted (bucket, cnt, ewma) rows must equal the batch
    ewma_smooth frame bit-for-bit (identical IEEE sequence)."""
    import random
    import time as _time

    from windflow_spark.operators.timeseries import ewma_smooth
    from windflow_spark.streaming import (
        file_stream as _fs,
        streaming_ewma,
        to_memory_sink,
    )

    BUCKET = 50
    rng = random.Random(11)
    rows = []
    for k in ("a", "b", "c"):
        t = rng.randint(0, 60)
        for _ in range(rng.randint(8, 30)):
            rows.append((k, t, False))
            t += rng.randint(1, 120)  # some buckets skipped -> gap semantics
    schema = "k string, us long, eos boolean"
    data = spark.createDataFrame(rows, schema)
    batch = ewma_smooth(
        data.select("k", F.timestamp_micros("us").alias("ts")),
        ["k"],
        "ts",
        alpha=0.25,
        bucket_us=BUCKET,
    )
    expect = sorted(
        (r.k, int(r.bucket_start.timestamp() * 1_000_000), r.cnt, r.ewma)
        for r in batch.collect()
    )

    path = str(tmp_path_factory.mktemp("ewma_src"))
    mid = 500
    spark.createDataFrame([r for r in rows if r[1] <= mid], schema).coalesce(
        1
    ).write.mode("append").parquet(path)
    _time.sleep(1.1)
    spark.createDataFrame([r for r in rows if r[1] > mid], schema).coalesce(
        1
    ).write.mode("append").parquet(path)
    _time.sleep(1.1)
    eos = [(k, 10**9, True) for k in ("a", "b", "c")]
    spark.createDataFrame(eos, schema).coalesce(1).write.mode("append").parquet(path)

    stream = _fs(spark, path, data.schema, max_files_per_trigger=1)
    out = streaming_ewma(stream, "k", BUCKET, alpha=0.25, eos_col="eos")
    name, _ = to_memory_sink(out, output_mode="append")
    got = sorted(
        (r.k, r.bucket, r.cnt, r.ewma) for r in spark.table(name).collect()
    )
    assert got == expect and len(expect) > 10


def test_streaming_ohlc_matches_batch(spark, tmp_path_factory):
    """Per-key OHLC bars across two time-ordered micro-batches + EOS:
    emitted bars must equal the batch resample_ohlc frame, including the
    struct-min/max open/close tie-break on equal timestamps."""
    import random
    import time as _time

    from windflow_spark.operators.timeseries import resample_ohlc
    from windflow_spark.streaming import (
        file_stream as _fs,
        streaming_ohlc,
        to_memory_sink,
    )

    BUCKET = 40
    rng = random.Random(5)
    rows = []
    for k in ("a", "b"):
        t = rng.randint(0, 30)
        for _ in range(rng.randint(15, 40)):
            rows.append((k, t, round(rng.uniform(-5, 5), 3), False))
            # duplicate timestamps sometimes -> exercises the tie-break
            t += rng.choice([0, 1, 7, 45])
    schema = "k string, us long, v double, eos boolean"
    data = spark.createDataFrame(rows, schema)
    batch = resample_ohlc(
        data.select("k", F.timestamp_micros("us").alias("ts"), "v"),
        ["k"], "ts", "v", BUCKET,
    )
    expect = sorted(
        (r.k, int(r.bucket_start.timestamp() * 1_000_000),
         r.open, r.high, r.low, r.close, r.cnt)
        for r in batch.collect()
    )

    path = str(tmp_path_factory.mktemp("ohlc_src"))
    mid = 300
    spark.createDataFrame([r for r in rows if r[1] <= mid], schema).coalesce(
        1
    ).write.mode("append").parquet(path)
    _time.sleep(1.1)
    spark.createDataFrame([r for r in rows if r[1] > mid], schema).coalesce(
        1
    ).write.mode("append").parquet(path)
    _time.sleep(1.1)
    eos = [(k, 10**9, 0.0, True) for k in ("a", "b")]
    spark.createDataFrame(eos, schema).coalesce(1).write.mode("append").parquet(path)

    stream = _fs(spark, path, data.schema, max_files_per_trigger=1)
    out = streaming_ohlc(stream, "k", "v", BUCKET, eos_col="eos")
    name, _ = to_memory_sink(out, output_mode="append")
    got = sorted(
        (r.k, r.bucket, r.open, r.high, r.low, r.close, r.cnt)
        for r in spark.table(name).collect()
    )
    assert got == expect and len(expect) > 6


def test_streaming_scd2_matches_batch(spark, tmp_path_factory):
    """Per-key SCD2 versions across micro-batches + EOS: closed and open
    (is_current) versions must equal the batch scd2_intervals frame,
    including null-safe change detection and version numbering."""
    import random
    import time as _time

    from windflow_spark.operators.timeseries import scd2_intervals
    from windflow_spark.streaming import (
        file_stream as _fs,
        streaming_scd2,
        to_memory_sink,
    )

    rng = random.Random(9)
    rows = []
    for k in ("a", "b", "c"):
        t = rng.randint(0, 10)
        for _ in range(rng.randint(6, 18)):
            status = rng.choice(["open", "open", "hold", "closed", None])
            rows.append((k, t, status, False))
            t += rng.randint(1, 50)  # strictly increasing per key
    schema = "k string, us long, status string, eos boolean"
    data = spark.createDataFrame(rows, schema)
    batch = scd2_intervals(
        data.select("k", F.timestamp_micros("us").alias("ts"), "status"),
        ["k"], "ts", ["status"],
    )
    to_us = lambda x: None if x is None else int(x.timestamp() * 1_000_000)
    nkey = lambda t: tuple("" if x is None else x for x in t[:2]) + t[4:5]
    expect = sorted(
        ((r.k, r.status, to_us(r.valid_from), to_us(r.valid_to),
          r.version_seq, r.is_current)
         for r in batch.collect()), key=nkey,
    )

    path = str(tmp_path_factory.mktemp("scd2_src"))
    mid = 250
    spark.createDataFrame([r for r in rows if r[1] <= mid], schema).coalesce(
        1
    ).write.mode("append").parquet(path)
    _time.sleep(1.1)
    spark.createDataFrame([r for r in rows if r[1] > mid], schema).coalesce(
        1
    ).write.mode("append").parquet(path)
    _time.sleep(1.1)
    eos = [(k, 10**9, None, True) for k in ("a", "b", "c")]
    spark.createDataFrame(eos, schema).coalesce(1).write.mode("append").parquet(path)

    stream = _fs(spark, path, data.schema, max_files_per_trigger=1)
    out = streaming_scd2(stream, "k", "status", eos_col="eos")
    name, _ = to_memory_sink(out, output_mode="append")
    got = sorted(
        ((r.k, r.status, r.valid_from, r.valid_to, r.version_seq, r.is_current)
         for r in spark.table(name).collect()), key=nkey,
    )
    assert got == expect and len(expect) > 8


def test_streaming_transitions_matches_batch_lead(spark, tmp_path_factory):
    """Per-key transition stream across micro-batches + EOS: the multiset
    of emitted (from, to) pairs must equal the batch lead() pairs, and
    the last event per key must emit no successor."""
    import random
    import time as _time
    from collections import Counter

    from windflow_spark.streaming import (
        file_stream as _fs,
        streaming_transitions,
        to_memory_sink,
    )

    rng = random.Random(21)
    rows = []
    for k in ("a", "b", "c"):
        t = rng.randint(0, 10)
        for _ in range(rng.randint(5, 20)):
            rows.append((k, t, rng.choice(["x", "y", "z"]), False))
            t += rng.randint(1, 9)  # strictly increasing per key
    schema = "k string, us long, ty string, eos boolean"

    expect = Counter()
    seqs = {}
    for k, t, ty, _ in sorted(rows, key=lambda r: (r[0], r[1])):
        seqs.setdefault(k, []).append(ty)
    for k, seq in seqs.items():
        for a, b in zip(seq, seq[1:]):
            expect[(k, a, b)] += 1

    path = str(tmp_path_factory.mktemp("trans_src"))
    mid = 60
    spark.createDataFrame([r for r in rows if r[1] <= mid], schema).coalesce(
        1
    ).write.mode("append").parquet(path)
    _time.sleep(1.1)
    spark.createDataFrame([r for r in rows if r[1] > mid], schema).coalesce(
        1
    ).write.mode("append").parquet(path)
    _time.sleep(1.1)
    eos = [(k, 10**9, "x", True) for k in ("a", "b", "c")]
    spark.createDataFrame(eos, schema).coalesce(1).write.mode("append").parquet(path)

    stream = _fs(spark, path, spark.createDataFrame(rows, schema).schema,
                 max_files_per_trigger=1)
    out = streaming_transitions(stream, "k", "ty", eos_col="eos")
    name, _ = to_memory_sink(out, output_mode="append")
    got = Counter(
        (r.k, r.from_type, r.to_type) for r in spark.table(name).collect()
    )
    assert got == expect and sum(expect.values()) > 10


def test_streaming_forward_fill_matches_batch_window(spark, tmp_path_factory):
    """LOCF across micro-batches + EOS: every emitted row's carried value
    must equal the batch IGNORE NULLS last_value window on the same
    frame, including rows before a key's first marker (null carry)."""
    import random
    import time as _time

    from pyspark.sql import functions as F
    from pyspark.sql import Window as W

    from windflow_spark.streaming import (
        file_stream as _fs,
        streaming_forward_fill,
        to_memory_sink,
    )

    rng = random.Random(33)
    rows = []
    rid = 0
    for k in (1, 2, 3):
        t = rng.randint(0, 10)
        for _ in range(rng.randint(8, 25)):
            ty = rng.choice(["view", "click", "purchase"])
            rows.append((k, t, rid, ty, round(rng.uniform(1, 99), 2), False))
            rid += 1
            t += rng.randint(1, 9)  # strictly increasing per key
    schema = "k long, us long, rid long, ty string, v double, eos boolean"

    batch = spark.createDataFrame(rows, schema)
    w = (
        W.partitionBy("k")
        .orderBy("us", "rid")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    expect = {
        r["rid"]: r["want"]
        for r in batch.select(
            "rid",
            F.last(
                F.when(F.col("ty") == "purchase", F.col("v")), ignorenulls=True
            )
            .over(w)
            .alias("want"),
        ).collect()
    }

    path = str(tmp_path_factory.mktemp("locf_src"))
    mid = 60
    spark.createDataFrame([r for r in rows if r[1] <= mid], schema).coalesce(
        1
    ).write.mode("append").parquet(path)
    _time.sleep(1.1)
    spark.createDataFrame([r for r in rows if r[1] > mid], schema).coalesce(
        1
    ).write.mode("append").parquet(path)
    _time.sleep(1.1)
    eos = [(k, 10**9, 10**6 + k, "view", 0.0, True) for k in (1, 2, 3)]
    spark.createDataFrame(eos, schema).coalesce(1).write.mode("append").parquet(
        path
    )

    stream = _fs(spark, path, batch.schema, max_files_per_trigger=1)
    out = streaming_forward_fill(
        stream, "k", "us", "rid", "ty", "v", "purchase", eos_col="eos"
    )
    name, _ = to_memory_sink(out, output_mode="append")
    got = {r["rid"]: r["last_fill_value"] for r in spark.table(name).collect()}
    assert set(got) == set(expect) and len(got) > 20
    for rid_, want in expect.items():
        if want is None:
            assert got[rid_] is None
        else:
            assert abs(got[rid_] - want) < 1e-9


def test_streaming_weighted_sample_matches_batch(spark, tmp_path_factory):
    """The A-ES reservoir is order-insensitive: documents split across two
    micro-batches in a SHUFFLED order must yield exactly the batch
    sample_weighted_aes rows (same arrival doubles — the key is computed
    by the same JVM expression upstream on both paths)."""
    import random
    import time as _time

    from windflow_spark.functions.pipeline import _md5_int60
    from windflow_spark.queries import sample_weighted_aes
    from windflow_spark.streaming import file_stream as _fs
    from windflow_spark.streaming import (
        streaming_weighted_sample,
        to_memory_sink,
    )

    sf_dir = "/root/testdata/sf0.001"
    batch = {
        (r.lang, r.doc_id, r.n_chars, r.rk)
        for r in sample_weighted_aes(spark, sf_dir).collect()
    }

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "lang", "doc_id", "n_chars"
    )
    rows = [(r.lang, r.doc_id, r.n_chars, False) for r in docs.collect()]
    rng = random.Random(7)
    rng.shuffle(rows)
    schema = "lang string, doc_id long, n_chars long, is_eos boolean"
    path = str(tmp_path_factory.mktemp("aes_src"))
    half = len(rows) // 2
    spark.createDataFrame(rows[:half], schema).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    _time.sleep(1.1)
    langs = sorted({r[0] for r in rows})
    spark.createDataFrame(
        rows[half:] + [(lg, -1, 1, True) for lg in langs], schema
    ).coalesce(1).write.mode("append").parquet(path)

    src_schema = spark.createDataFrame(rows[:1], schema).schema
    stream = _fs(spark, path, src_schema, max_files_per_trigger=1)
    keyed = stream.withColumn(
        "arrival",
        -F.log(
            _md5_int60(F.col("doc_id").cast("string")).cast("double")
            / F.lit(1152921504606846976.0)
        )
        / F.col("n_chars"),
    )
    out = streaming_weighted_sample(
        keyed, "lang", "doc_id", "n_chars", "arrival", k=5, eos_col="is_eos"
    )
    name, _ = to_memory_sink(out, output_mode="append")
    got = {
        (r.lang, r.doc_id, r.n_chars, r.rk)
        for r in spark.table(name).collect()
    }
    assert got == batch


def test_streaming_holt_matches_batch(spark, tmp_path_factory):
    """Per-key Holt level+trend across two time-ordered micro-batches +
    an EOS flush file: emitted (bucket, cnt, level, trend, forecast) rows
    must equal the batch holt_smooth frame bit-for-bit (identical IEEE
    sequence, HALF_UP emission rounding on both forms)."""
    import random
    import time as _time

    from windflow_spark.operators.timeseries import holt_smooth
    from windflow_spark.streaming import (
        file_stream as _fs,
        streaming_holt,
        to_memory_sink,
    )

    BUCKET = 50
    rng = random.Random(17)
    rows = []
    for k in ("a", "b", "c"):
        t = rng.randint(0, 60)
        for _ in range(rng.randint(8, 30)):
            rows.append((k, t, False))
            t += rng.randint(1, 120)  # some buckets skipped -> gap semantics
    schema = "k string, us long, eos boolean"
    data = spark.createDataFrame(rows, schema)
    batch = holt_smooth(
        data.select("k", F.timestamp_micros("us").alias("ts")),
        ["k"],
        "ts",
        alpha=0.5,
        beta=0.25,
        bucket_us=BUCKET,
    )
    expect = sorted(
        (
            r.k,
            int(r.bucket_start.timestamp() * 1_000_000),
            r.cnt,
            r.level,
            r.trend,
            r.forecast_next,
        )
        for r in batch.collect()
    )

    path = str(tmp_path_factory.mktemp("holt_src"))
    mid = 500
    spark.createDataFrame([r for r in rows if r[1] <= mid], schema).coalesce(
        1
    ).write.mode("append").parquet(path)
    _time.sleep(1.1)
    spark.createDataFrame([r for r in rows if r[1] > mid], schema).coalesce(
        1
    ).write.mode("append").parquet(path)
    _time.sleep(1.1)
    eos = [(k, 10**9, True) for k in ("a", "b", "c")]
    spark.createDataFrame(eos, schema).coalesce(1).write.mode("append").parquet(path)

    stream = _fs(spark, path, data.schema, max_files_per_trigger=1)
    out = streaming_holt(stream, "k", BUCKET, alpha=0.5, beta=0.25, eos_col="eos")
    name, _ = to_memory_sink(out, output_mode="append")
    got = sorted(
        (r.k, r.bucket, r.cnt, r.level, r.trend, r.forecast_next)
        for r in spark.table(name).collect()
    )
    assert got == expect and len(expect) > 10


def test_streaming_cms_matches_batch_sketch(spark, tmp_path_factory):
    """Per-row CMS counter arrays across two micro-batches + EOS flush:
    the flushed (r, idx, counter) cells must equal the batch-built sketch
    EXACTLY (commutative integer adds, identical md5 indexing) — not
    just within the CMS error bound."""
    import hashlib
    import random
    import time as _time

    from windflow_spark.streaming import (
        file_stream as _fs,
        streaming_cms,
        to_memory_sink,
    )

    DEPTH, WIDTH = 3, 64
    rng = random.Random(23)
    vocab = [f"tok{j}" for j in range(40)]
    rows = [(rng.choice(vocab), i, False) for i in range(600)]
    schema = "token string, seq long, eos boolean"

    # independent python reference sketch (same md5 derivation)
    expect_cnt: dict[tuple[int, int], int] = {}
    for tok, _, _ in rows:
        for r in range(DEPTH):
            idx = int(hashlib.md5(f"{r}|{tok}".encode()).hexdigest()[:8], 16) % WIDTH
            expect_cnt[(r, idx)] = expect_cnt.get((r, idx), 0) + 1
    expect = sorted((r, i, c) for (r, i), c in expect_cnt.items())

    path = str(tmp_path_factory.mktemp("cms_src"))
    mid = 300
    data_schema = spark.createDataFrame(rows, schema).schema
    spark.createDataFrame([r for r in rows if r[1] < mid], schema).coalesce(
        1
    ).write.mode("append").parquet(path)
    _time.sleep(1.1)
    spark.createDataFrame([r for r in rows if r[1] >= mid], schema).coalesce(
        1
    ).write.mode("append").parquet(path)
    _time.sleep(1.1)
    spark.createDataFrame([("x", 10**9, True)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(path)

    stream = _fs(spark, path, data_schema, max_files_per_trigger=1)
    out = streaming_cms(stream, "token", depth=DEPTH, width=WIDTH, eos_col="eos")
    name, _ = to_memory_sink(out, output_mode="append")
    got = sorted(
        (r.r, r.idx, r.counter) for r in spark.table(name).collect()
    )
    assert got == expect and len(expect) > 50


def test_streaming_alert_hysteresis_matches_batch(spark, tmp_path_factory):
    """Two-threshold alert latch across two time-ordered micro-batches +
    an EOS flush file: emitted (bucket, cnt, alert, is_start) rows must
    equal the batch closed-form (forced / LOCF / lag) hysteresis frame,
    with thresholds derived batch-side and fed into the streaming config."""
    import random
    import time as _time

    from pyspark.sql import Window as W

    from windflow_spark.streaming import (
        file_stream as _fs,
        streaming_alert_hysteresis,
        to_memory_sink,
    )

    BUCKET = 50
    HI, LO = 4.0, 2.0  # latch above 4 events/bucket, release below 2
    rng = random.Random(7)
    rows = []
    for k in ("a", "b", "c"):
        t = rng.randint(0, 60)
        for _ in range(rng.randint(40, 80)):
            rows.append((k, t, False))
            # bursty arrivals: some buckets dense (alert), some sparse
            t += rng.choice([1, 2, 3, 40, 90])
    schema = "k string, us long, eos boolean"
    data = spark.createDataFrame(rows, schema)

    d = data.groupBy(
        "k", (F.col("us") - F.col("us") % BUCKET).alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    po = W.partitionBy("k").orderBy("bucket")
    s = d.withColumn(
        "forced",
        F.when(F.col("cnt") > HI, F.lit(True)).when(
            F.col("cnt") < LO, F.lit(False)
        ),
    ).withColumn(
        "alert",
        F.coalesce(
            F.last("forced", ignorenulls=True).over(
                po.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
            F.lit(False),
        ),
    )
    batch = s.withColumn(
        "is_start",
        F.col("alert") & ~F.coalesce(F.lag("alert").over(po), F.lit(False)),
    )
    expect = sorted(
        (r.k, r.bucket, r.cnt, r.alert, r.is_start) for r in batch.collect()
    )
    assert any(r[3] for r in expect) and any(not r[3] for r in expect)

    path = str(tmp_path_factory.mktemp("alert_src"))
    mid = 800
    spark.createDataFrame([r for r in rows if r[1] <= mid], schema).coalesce(
        1
    ).write.mode("append").parquet(path)
    _time.sleep(1.1)
    spark.createDataFrame([r for r in rows if r[1] > mid], schema).coalesce(
        1
    ).write.mode("append").parquet(path)
    _time.sleep(1.1)
    eos = [(k, 10**9, True) for k in ("a", "b", "c")]
    spark.createDataFrame(eos, schema).coalesce(1).write.mode("append").parquet(path)

    stream = _fs(spark, path, data.schema, max_files_per_trigger=1)
    out = streaming_alert_hysteresis(
        stream, "k", BUCKET, hi=HI, lo=LO, eos_col="eos"
    )
    name, _ = to_memory_sink(out, output_mode="append")
    got = sorted(
        (r.k, r.bucket, r.cnt, r.alert, r.is_start)
        for r in spark.table(name).collect()
    )
    assert got == expect and len(expect) > 10


def test_streaming_debounce_matches_batch(spark, tmp_path_factory):
    """Debounce across two time-ordered micro-batches + EOS: the emitted
    (key, us) rows must equal the batch island-opening events, INCLUDING
    bursts that straddle the micro-batch boundary (the state must remember
    the last raw event, not the last kept one)."""
    import random
    import time as _time

    from pyspark.sql import Window as W

    from windflow_spark.streaming import (
        file_stream as _fs,
        streaming_debounce,
        to_memory_sink,
    )

    GAP = 100
    rng = random.Random(13)
    rows = []
    for k in ("a", "b", "c"):
        t = rng.randint(0, 50)
        for _ in range(rng.randint(30, 60)):
            rows.append((k, t, False))
            t += rng.choice([5, 20, 150, 400])  # bursts + island breaks
    schema = "k string, us long, eos boolean"
    data = spark.createDataFrame(rows, schema)

    gap = F.col("us") - F.lag("us").over(W.partitionBy("k").orderBy("us"))
    batch = data.withColumn("gap", gap).filter(
        F.col("gap").isNull() | (F.col("gap") > GAP)
    )
    expect = sorted((r.k, r.us) for r in batch.collect())
    assert 5 < len(expect) < len(rows)

    path = str(tmp_path_factory.mktemp("deb_src"))
    mid = 2000  # split INSIDE many bursts
    spark.createDataFrame([r for r in rows if r[1] <= mid], schema).coalesce(
        1
    ).write.mode("append").parquet(path)
    _time.sleep(1.1)
    spark.createDataFrame([r for r in rows if r[1] > mid], schema).coalesce(
        1
    ).write.mode("append").parquet(path)
    _time.sleep(1.1)
    eos = [(k, 10**9, True) for k in ("a", "b", "c")]
    spark.createDataFrame(eos, schema).coalesce(1).write.mode("append").parquet(path)

    stream = _fs(spark, path, data.schema, max_files_per_trigger=1)
    out = streaming_debounce(stream, ["k"], GAP, eos_col="eos")
    name, _ = to_memory_sink(out, output_mode="append")
    got = sorted((r.k, r.us) for r in spark.table(name).collect())
    assert got == expect


def test_streaming_interval_join_left_outer_equals_batch(spark, tmp_path_factory):
    """r6 VERDICT #5: LEFT-outer bucketed stream-stream interval join must
    equal the batch left form — matched pairs AND null-extended unmatched
    A rows — with rows split across micro-batches (maxFilesPerTrigger=1).
    Outer null-emission needs the watermark to pass the unmatched row's
    retention bound, so each side gets a far-future sentinel file (key -1,
    filtered out of the comparison) whose processing advances the global
    watermark and flushes the remaining A-side state."""
    import time as _time

    from windflow_spark.operators.interval_join import interval_join_bucketed
    from windflow_spark.streaming import streaming_interval_join_bucketed

    rows_a = [(k % 3, v, v * 700_000 + k * 13_000) for k, v in ((i % 5, i) for i in range(30))]
    rows_b = [(k % 3, v + 1000, v * 1_400_000 + 350_000) for k, v in ((i % 5, i) for i in range(12))]
    # TWO sentinel files per side: the watermark computed from sentinel 1's
    # batch is only APPLIED at the start of the following batch, so a second
    # (later) sentinel provides the batch in which the remaining unmatched
    # A state is evicted and null-emitted before availableNow terminates
    sentinel = [(-1, -1, 500 * SEC)]
    sentinel2 = [(-1, -2, 600 * SEC)]
    batch_a = _mk(spark, rows_a + sentinel + sentinel2)
    batch_b = _mk(spark, rows_b + sentinel + sentinel2)

    expect = sorted(
        map(
            tuple,
            interval_join_bucketed(
                batch_a, batch_b, ["key"], "ts", "ts", 0, 1 * SEC, how="left"
            )
            .filter(F.col("a.key") >= 0)
            .select("a.value", "b.value")
            .collect(),
        )
    )
    # unmatched A rows must exist, and so must matches — both paths live
    assert any(bv is None for _, bv in expect) and any(bv is not None for _, bv in expect)

    src_a = str(tmp_path_factory.mktemp("sij_left_a"))
    src_b = str(tmp_path_factory.mktemp("sij_left_b"))
    for src, rows in ((src_a, rows_a), (src_b, rows_b)):
        half = len(rows) // 2
        _mk(spark, rows[:half]).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)
        _mk(spark, rows[half:]).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)
        _mk(spark, sentinel).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)
        _mk(spark, sentinel2).coalesce(1).write.mode("append").parquet(src)

    stream_a = file_stream(spark, src_a, batch_a.schema, max_files_per_trigger=1)
    stream_b = file_stream(spark, src_b, batch_b.schema, max_files_per_trigger=1)
    j = streaming_interval_join_bucketed(
        stream_a, stream_b, ["key"], "ts", "ts", 0, 1 * SEC,
        watermark_us=1 * SEC, how="left",
    )
    # do NOT filter the sentinels inside the streaming plan: a key predicate
    # pushes down into the file scan, removing the sentinel rows BEFORE the
    # watermark operator — the watermark then never advances and unmatched
    # state never flushes. Sentinels are dropped from the collected rows.
    name, _ = to_memory_sink(
        j.select(
            F.col("a.key").alias("ak"),
            F.col("a.value").alias("av"),
            F.col("b.value").alias("bv"),
        )
    )
    got = sorted(
        (av, bv) for ak, av, bv in _rows(spark, name, ["ak", "av", "bv"]) if ak >= 0
    )
    assert got == expect
    assert len(got) == len(set(got))  # B-replication produced no dup rows


def _nsort(pairs):
    # None-safe deterministic ordering for nullable outer-join tuples
    return sorted(pairs, key=lambda t: tuple((x is None, 0 if x is None else x) for x in t))


def test_streaming_interval_join_full_outer_equals_batch(spark, tmp_path_factory):
    """r7 VERDICT #4: FULL-outer bucketed stream-stream interval join must
    equal the batch full form — matched pairs once, unmatched-A nulls, AND
    unmatched-B nulls — with rows split across micro-batches
    (maxFilesPerTrigger=1). Union-of-two-outer decomposition: each branch
    is its own stream-stream join with bounded state. Two far-future
    sentinel files per side (watermark lags one batch) flush both branches'
    unmatched state before availableNow terminates."""
    import time as _time

    from windflow_spark.operators.interval_join import interval_join_full_bucketed
    from windflow_spark.streaming import streaming_interval_join_full_bucketed

    rows_a = [(k % 3, v, v * 700_000 + k * 13_000) for k, v in ((i % 5, i) for i in range(30))]
    # shifted + sparse B so all three populations exist: matches,
    # A-only rows, and B rows no A interval reaches
    rows_b = [(k % 3, v + 1000, v * 1_400_000 + 350_000) for k, v in ((i % 5, i) for i in range(12))]
    sentinel = [(-1, -1, 500 * SEC)]
    sentinel2 = [(-1, -2, 600 * SEC)]
    batch_a = _mk(spark, rows_a + sentinel + sentinel2)
    batch_b = _mk(spark, rows_b + sentinel + sentinel2)

    expect = _nsort(
        map(
            tuple,
            interval_join_full_bucketed(
                batch_a, batch_b, ["key"], "ts", "ts", 0, 1 * SEC
            )
            .filter(F.col("key") >= 0)
            .select("a_value", "b_value")
            .collect(),
        )
    )
    # all three populations must be live or the test proves nothing
    assert any(av is None for av, _ in expect)      # unmatched B
    assert any(bv is None for _, bv in expect)      # unmatched A
    assert any(av is not None and bv is not None for av, bv in expect)

    src_a = str(tmp_path_factory.mktemp("sij_full_a"))
    src_b = str(tmp_path_factory.mktemp("sij_full_b"))
    for src, rows in ((src_a, rows_a), (src_b, rows_b)):
        half = len(rows) // 2
        _mk(spark, rows[:half]).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)
        _mk(spark, rows[half:]).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)
        _mk(spark, sentinel).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)
        _mk(spark, sentinel2).coalesce(1).write.mode("append").parquet(src)

    stream_a = file_stream(spark, src_a, batch_a.schema, max_files_per_trigger=1)
    stream_b = file_stream(spark, src_b, batch_b.schema, max_files_per_trigger=1)
    j = streaming_interval_join_full_bucketed(
        stream_a, stream_b, ["key"], "ts", "ts", 0, 1 * SEC,
        watermark_us=1 * SEC,
    )
    # sentinels filtered from COLLECTED rows, not in the plan (a key
    # predicate would push below the watermark operator and kill them)
    name, _ = to_memory_sink(j.select("key", "a_value", "b_value"))
    got = _nsort(
        (av, bv)
        for k, av, bv in map(
            tuple, spark.table(name).select("key", "a_value", "b_value").collect()
        )
        if k >= 0
    )
    assert got == expect
    assert len(got) == len(set(got))  # no per-replica duplicate null-emits


def test_streaming_interval_join_plain_full_equals_batch(spark, tmp_path_factory):
    """The NON-bucketed streaming interval join supports how='full' as a
    single join (no replication → no decomposition needed); parity with
    the batch full join on the same data."""
    import time as _time

    from windflow_spark.operators.interval_join import interval_join

    rows_a = [(k % 3, v, v * 700_000 + k * 13_000) for k, v in ((i % 5, i) for i in range(20))]
    rows_b = [(k % 3, v + 1000, v * 1_400_000 + 350_000) for k, v in ((i % 5, i) for i in range(8))]
    sentinel = [(-1, -1, 500 * SEC)]
    sentinel2 = [(-1, -2, 600 * SEC)]
    batch_a = _mk(spark, rows_a + sentinel + sentinel2)
    batch_b = _mk(spark, rows_b + sentinel + sentinel2)

    expect = _nsort(
        map(
            tuple,
            interval_join(batch_a, batch_b, ["key"], "ts", "ts", 0, 1 * SEC, how="full")
            .filter(F.coalesce(F.col("a.key"), F.col("b.key")) >= 0)
            .select("a.value", "b.value")
            .collect(),
        )
    )
    assert any(av is None for av, _ in expect) and any(bv is None for _, bv in expect)

    src_a = str(tmp_path_factory.mktemp("sij_pfull_a"))
    src_b = str(tmp_path_factory.mktemp("sij_pfull_b"))
    for src, rows in ((src_a, rows_a), (src_b, rows_b)):
        half = len(rows) // 2
        _mk(spark, rows[:half]).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)
        _mk(spark, rows[half:]).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)
        _mk(spark, sentinel).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)
        _mk(spark, sentinel2).coalesce(1).write.mode("append").parquet(src)

    stream_a = file_stream(spark, src_a, batch_a.schema, max_files_per_trigger=1)
    stream_b = file_stream(spark, src_b, batch_b.schema, max_files_per_trigger=1)
    j = streaming_interval_join(
        stream_a, stream_b, ["key"], "ts", "ts", 0, 1 * SEC,
        watermark_us=1 * SEC, how="full",
    )
    name, _ = to_memory_sink(
        j.select(
            F.coalesce(F.col("a.key"), F.col("b.key")).alias("k"),
            F.col("a.value").alias("av"),
            F.col("b.value").alias("bv"),
        )
    )
    got = _nsort(
        (av, bv)
        for k, av, bv in map(
            tuple, spark.table(name).select("k", "av", "bv").collect()
        )
        if k >= 0
    )
    assert got == expect


def test_streaming_asof_join_backward_equals_batch(spark, tmp_path_factory):
    """EOS-flush streaming as-of join ≡ batch asof_join_backward with rows
    split across micro-batches and the two sides interleaving arbitrarily.
    Each side gets one far-future EOS punctuation row per key; the flush
    fires only when BOTH sides' EOS have arrived, so side interleaving
    across triggers cannot produce a partial join."""
    import time as _time

    from windflow_spark.operators.asof_join import asof_join_backward
    from windflow_spark.streaming import streaming_asof_join_backward

    # a: probes; b: quotes — same-key same-ts b duplicates EXERCISE the tie
    rows_a = [(k % 3, 100 + i, (i * 7 + 1) * SEC) for k, i in ((i % 5, i) for i in range(24))]
    rows_b = [(k % 3, 500 + i, (i * 11) * SEC) for k, i in ((i % 4, i) for i in range(14))]
    rows_b += [(0, 900, 0 * SEC), (0, 901, 0 * SEC)]  # exact tie on (key, ts)

    def _mk2(rows, with_val):
        return spark.createDataFrame(
            [
                (k, i, ts, float(i) / 4 if with_val else None, False)
                for k, i, ts in rows
            ],
            "key long, id long, us long, val double, eos boolean",
        )

    batch_a = _mk2(rows_a, False).drop("val")
    batch_b = _mk2(rows_b, True)
    expect = _nsort(
        map(
            tuple,
            asof_join_backward(
                batch_a.select("key", F.col("id").alias("a_id"), F.col("us").alias("ts")),
                batch_b.select("key", F.col("id").alias("b_id"), F.col("us").alias("ts"), "val"),
                ["key"], "ts", "ts", ["b_id", "val"],
            )
            .select("key", "a_id", F.col("b_b_id").alias("b_id"), F.col("b_val").alias("b_val"))
            .collect(),
        )
    )
    assert any(t[2] is None for t in expect) and any(t[2] is not None for t in expect)

    eos_a = [(k, -1, 10_000 * SEC) for k in {r[0] for r in rows_a} | {r[0] for r in rows_b}]
    src_a = str(tmp_path_factory.mktemp("sasof_a"))
    src_b = str(tmp_path_factory.mktemp("sasof_b"))
    for src, rows, with_val in ((src_a, rows_a, False), (src_b, rows_b, True)):
        half = len(rows) // 2
        _mk2(rows[:half], with_val).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)
        _mk2(rows[half:], with_val).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)
        eos = spark.createDataFrame(
            [(k, i, ts, None, True) for k, i, ts in eos_a],
            "key long, id long, us long, val double, eos boolean",
        )
        eos.coalesce(1).write.mode("append").parquet(src)

    schema = _mk2(rows_b, True).schema
    stream_a = file_stream(spark, src_a, schema, max_files_per_trigger=1)
    stream_b = file_stream(spark, src_b, schema, max_files_per_trigger=1)
    j = streaming_asof_join_backward(
        stream_a, stream_b, "key", "us", "us", "id", "id", "val"
    )
    name, _ = to_memory_sink(j.select("k", "a_id", "b_id", "b_val"))
    got = _nsort(
        map(tuple, spark.table(name).select("k", "a_id", "b_id", "b_val").collect())
    )
    assert got == expect


def test_streaming_asof_join_backward_bounded_equals_batch(
    spark, tmp_path_factory
):
    """Finite-lookback streaming as-of join (watermark-BOUNDED state) ≡
    batch asof_join_backward restricted to in-lookback matches. Backward
    as-of takes the LATEST b at-or-before each a row, so a match exists
    within [a_us − lookback, a_us] iff the unrestricted match falls in
    it — the batch expectation is the plain as-of with out-of-lookback
    matches nulled. Rows split across micro-batches, sides interleave,
    and mid-stream a rows finalize via the WATERMARK (not only the EOS
    drain), exercising the bounded-state purge path."""
    import time as _time

    from windflow_spark.operators.asof_join import asof_join_backward
    from windflow_spark.streaming import streaming_asof_join_backward_bounded

    LOOKBACK = 30 * SEC
    rows_a = [(k % 3, 100 + i, (i * 7 + 1) * SEC) for k, i in ((i % 5, i) for i in range(24))]
    rows_b = [(k % 3, 500 + i, (i * 11) * SEC) for k, i in ((i % 4, i) for i in range(14))]
    rows_b += [(0, 900, 0 * SEC), (0, 901, 0 * SEC)]  # exact tie on (key, ts)

    def _mk2(rows, with_val):
        return spark.createDataFrame(
            [
                (k, i, ts, float(i) / 4 if with_val else None, False)
                for k, i, ts in rows
            ],
            "key long, id long, us long, val double, eos boolean",
        )

    batch_a = _mk2(rows_a, False).drop("val")
    batch_b = _mk2(rows_b, True)
    full = asof_join_backward(
        batch_a.select("key", F.col("id").alias("a_id"), F.col("us").alias("ts")),
        batch_b.select(
            "key",
            F.col("id").alias("b_id"),
            F.col("us").alias("ts"),
            F.col("us").alias("b_us"),
            "val",
        ),
        ["key"], "ts", "ts", ["b_id", "b_us", "val"],
    ).select(
        "key", "a_id", F.col("ts").alias("a_us"),
        F.col("b_b_id").alias("b_id"), F.col("b_b_us").alias("b_us"),
        F.col("b_val").alias("b_val"),
    )
    expect = _nsort(
        (k, aid, bid, bval)
        if bus is not None and bus >= aus - LOOKBACK
        else (k, aid, None, None)
        for k, aid, aus, bid, bus, bval in map(tuple, full.collect())
    )
    # the lookback must actually null some matches the plain as-of keeps
    n_full = sum(1 for t in map(tuple, full.collect()) if t[3] is not None)
    n_kept = sum(1 for t in expect if t[2] is not None)
    assert 0 < n_kept < n_full

    eos_rows = [(k, -1, 10_000 * SEC) for k in {r[0] for r in rows_a} | {r[0] for r in rows_b}]
    src_a = str(tmp_path_factory.mktemp("sasofb_a"))
    src_b = str(tmp_path_factory.mktemp("sasofb_b"))
    for src, rows, with_val in ((src_a, rows_a, False), (src_b, rows_b, True)):
        half = len(rows) // 2
        _mk2(rows[:half], with_val).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)
        _mk2(rows[half:], with_val).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)
        eos = spark.createDataFrame(
            [(k, i, ts, None, True) for k, i, ts in eos_rows],
            "key long, id long, us long, val double, eos boolean",
        )
        eos.coalesce(1).write.mode("append").parquet(src)

    schema = _mk2(rows_b, True).schema
    stream_a = file_stream(spark, src_a, schema, max_files_per_trigger=1)
    stream_b = file_stream(spark, src_b, schema, max_files_per_trigger=1)
    j = streaming_asof_join_backward_bounded(
        stream_a, stream_b, "key", "us", "us", "id", "id", "val",
        lookback_us=LOOKBACK, watermark_us=1 * SEC,
    )
    name, _ = to_memory_sink(j.select("k", "a_id", "b_id", "b_val"))
    got = _nsort(
        map(tuple, spark.table(name).select("k", "a_id", "b_id", "b_val").collect())
    )
    assert got == expect


def test_monitor_report_renders_html(spark, stream_fixture, tmp_path):
    """tools/monitor_report: the dashboard-report analog of the
    reference's WindFlow_Dashboard — a live query's progress feeds the
    jsonl sink, and the renderer produces a self-contained HTML page with
    the query's throughput/state numbers (both from the jsonl path and
    from StreamMonitor.stats() directly)."""
    import time

    from tools.monitor_report import jsonl_sink, render_from_jsonl, render_report
    from windflow_spark.streaming import monitor_streams, streaming_tumbling_window_tb

    _, stream = stream_fixture
    jl = str(tmp_path / "progress.jsonl")
    mon = monitor_streams(spark, sink=jsonl_sink(jl))
    try:
        out = streaming_tumbling_window_tb(
            stream, ["key"], "ts", 7 * SEC, [F.count(F.lit(1)).alias("cnt")]
        )
        name, q = to_memory_sink(out, output_mode="complete")
        q.awaitTermination(60)
        stats = {}
        for _ in range(50):
            stats = mon.stats()
            if any(s["total_input_rows"] > 0 for s in stats.values()):
                break
            time.sleep(0.2)
    finally:
        mon.remove()
    assert any(s["total_input_rows"] > 0 for s in stats.values())

    # path 1: straight from the live monitor's aggregates + histories
    html1 = render_report(stats, {qid: mon.history(qid) for qid in stats})
    assert "<table>" in html1 and "60" in html1  # fixture's row count
    assert "<svg" in html1  # sparkline rendered

    # path 2: from the durable jsonl the sink wrote
    html2 = render_from_jsonl(jl)
    assert "<table>" in html2 and "60" in html2
    assert "walCommit" in html2 and "state commit ms p50" in html2
    out_path = tmp_path / "report.html"
    out_path.write_text(html2)
    assert out_path.stat().st_size > 500


def test_streaming_space_saving_equals_ordered_replay(spark, tmp_path_factory):
    """Space-saving heavy hitters in streaming state ≡ an ordered batch
    replay of the same fold, with rows split across micro-batches by
    time (the kslack order-is-a-pure-function-of-the-data discipline).
    The item stream is Zipf-ish so evictions actually happen (k=4 but
    8 distinct items), and the test checks the textbook guarantee too:
    every item with true count > n/k appears in the summary."""
    import time as _time

    from windflow_spark.streaming import streaming_space_saving

    K = 4
    # deterministic skewed stream over 2 keys, 8 distinct items
    rows = []
    for i in range(120):
        key = f"g{i % 2}"
        r = (i * 37) % 16
        item = f"t{r % 8 if r >= 8 else r % 3}"  # t0..t2 hot, t0..t7 tail
        rows.append((key, item, i * SEC, False))

    def replay(key):
        items, counts, errs = [], [], []
        for _, item, _, _ in sorted(
            (r for r in rows if r[0] == key), key=lambda r: (r[2], r[1])
        ):
            if item in items:
                counts[items.index(item)] += 1
            elif len(items) < K:
                items.append(item); counts.append(1); errs.append(0)
            else:
                v = min(range(len(items)), key=lambda i: (counts[i], items[i]))
                vc = counts[v]
                items[v], counts[v], errs[v] = item, vc + 1, vc
        order = sorted(range(len(items)), key=lambda i: (-counts[i], items[i]))
        return [
            (key, items[i], counts[i], errs[i], r + 1) for r, i in enumerate(order)
        ]

    expect = _nsort(replay("g0") + replay("g1"))

    src = str(tmp_path_factory.mktemp("sss"))
    schema = "key string, item string, us long, eos boolean"
    mk = lambda rs: spark.createDataFrame(rs, schema)  # noqa: E731
    third = len(rows) // 3
    for chunk in (rows[:third], rows[third : 2 * third], rows[2 * third :]):
        mk(chunk).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)
    mk([(k, "_eos", 10_000 * SEC, True) for k in ("g0", "g1")]).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = file_stream(spark, src, mk(rows[:1]).schema, max_files_per_trigger=1)
    out = streaming_space_saving(stream, "key", "item", "us", K)
    name, _ = to_memory_sink(out)
    got = _nsort(map(tuple, spark.table(name).collect()))
    assert got == expect
    # textbook guarantee: true count > n/K per key implies presence
    from collections import Counter

    for key in ("g0", "g1"):
        true = Counter(r[1] for r in rows if r[0] == key)
        n = sum(true.values())
        summary_items = {t[1] for t in got if t[0] == key}
        for item, c in true.items():
            if c > n / K:
                assert item in summary_items, (key, item, c, n)


def test_streaming_kmv_matches_batch_and_is_order_invariant(
    spark, tmp_path_factory
):
    """streaming_kmv_distinct ≡ the batch KMV formula on the same rows,
    and — because 'k smallest distinct hashes' is a pure SET summary —
    the sketch is IDENTICAL under two different micro-batch splits and a
    shuffled replay (stronger than the ordered-replay parity the
    order-disciplined folds pin)."""
    import hashlib
    import time as _time

    from windflow_spark.streaming import streaming_kmv_distinct

    K = 8
    M = float(16**15)
    rows = [
        (f"k{i % 3}", f"item{(i * 7) % 40}", False) for i in range(300)
    ]

    # batch expectation straight from the formula
    expect = {}
    for key in {r[0] for r in rows}:
        hs = sorted(
            {
                int(hashlib.md5(it.encode()).hexdigest()[:15], 16)
                for kk, it, _ in rows
                if kk == key
            }
        )[:K]
        n_kept, h_k = len(hs), hs[-1]
        est = float(n_kept) if n_kept < K else (K - 1) * M / h_k
        expect[key] = (n_kept, h_k, round(est, 6))

    def run(split_rows):
        src = str(tmp_path_factory.mktemp("kmv"))
        for chunk in split_rows:
            spark.createDataFrame(
                chunk, "key string, item string, eos boolean"
            ).coalesce(1).write.mode("append").parquet(src)
            _time.sleep(0.1)
        eos = [(k, "x", True) for k in {r[0] for r in rows}]
        spark.createDataFrame(
            eos, "key string, item string, eos boolean"
        ).coalesce(1).write.mode("append").parquet(src)
        stream = file_stream(
            spark, src, "key string, item string, eos boolean",
            max_files_per_trigger=1,
        )
        out = streaming_kmv_distinct(stream, "key", "item", k=K)
        name, _ = to_memory_sink(out)
        return {
            r["key"]: (r["n_kept"], r["h_k"], round(r["kmv_est"], 6))
            for r in spark.table(name).collect()
        }

    got_a = run([rows[:100], rows[100:]])
    shuffled = rows[::-1]
    got_b = run([shuffled[:37], shuffled[37:180], shuffled[180:]])
    assert got_a == expect
    assert got_b == expect  # order + chunking invariance


def test_streaming_continuous_aggregate_rollup_equals_batch(
    spark, tmp_path_factory
):
    """Continuous-aggregate (incremental-view) maintenance — the
    streaming sibling of the batch rollup_hierarchy cascade: UPDATE-mode
    10s window partials are upserted into an external store keyed by
    (key, w_start) via foreachBatch (idempotent — a late row within the
    watermark re-emits the window and the upsert REWRITES it), then the
    store cascades to the coarser 60s level with rollup_partials and
    must equal the batch 60s tumbling aggregation of all rows. Raw
    events are scanned once; every coarser level reads only partials."""
    import json
    import os

    from windflow_spark.operators.windows import rollup_partials, tumbling_window_tb
    from windflow_spark.streaming import (
        run_available_now,
        streaming_tumbling_window_tb,
        to_foreach_batch,
    )

    rows1 = [(k % 3, v, v * 7 * SEC) for k, v in ((i % 5, i) for i in range(40))]
    # late rows: land in windows already emitted by batch 1, inside the
    # generous watermark, so the partial for those windows UPDATES
    rows2 = [(0, 1000, 3 * SEC), (1, 2000, 10 * SEC)] + [
        (k % 3, v + 100, (v + 40) * 7 * SEC) for k, v in ((i % 5, i) for i in range(10))
    ]
    src = str(tmp_path_factory.mktemp("cagg_src"))
    ckpt = str(tmp_path_factory.mktemp("cagg_ckpt"))
    store_path = os.path.join(str(tmp_path_factory.mktemp("cagg_store")), "s.json")
    import time as _time

    _mk(spark, rows1).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.1)
    _mk(spark, rows2).coalesce(1).write.mode("append").parquet(src)

    stream = file_stream(spark, src, _mk(spark, rows1).schema, max_files_per_trigger=1)
    partials = streaming_tumbling_window_tb(
        stream,
        ["key"],
        "ts",
        10 * SEC,
        [F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv")],
        lateness_us=3600 * SEC,
    )

    def upsert(batch_df, batch_id):
        store = json.load(open(store_path)) if os.path.exists(store_path) else {}
        for r in batch_df.collect():
            store[f"{r.key}|{r.w_start.isoformat()}"] = [r.cnt, r.sv]
        json.dump(store, open(store_path, "w"))

    run_available_now(to_foreach_batch(partials, upsert, ckpt))

    store = json.load(open(store_path))
    import datetime as _dt

    part_rows = [
        (int(k.split("|")[0]), _dt.datetime.fromisoformat(k.split("|")[1]), v[0], v[1])
        for k, v in store.items()
    ]
    part_df = spark.createDataFrame(
        part_rows, "key long, w_start timestamp, cnt long, sv long"
    )
    day = rollup_partials(
        part_df,
        ["key"],
        "w_start",
        60 * SEC,
        [F.sum("cnt").alias("cnt"), F.sum("sv").alias("sv")],
    )
    expect = tumbling_window_tb(
        _mk(spark, rows1 + rows2),
        ["key"],
        "ts",
        60 * SEC,
        [F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv")],
    )
    got = sorted(map(tuple, day.select("key", "w_start", "cnt", "sv").collect()))
    exp = sorted(map(tuple, expect.select("key", "w_start", "cnt", "sv").collect()))
    assert got == exp and len(exp) > 3


def test_socket_stream_live_roundtrip(spark, tmp_path_factory):
    """LIVE socket-source round-trip on a loopback server — the one §2.1
    transport that can be end-to-end-tested in this sandbox (the Kafka
    path stays contract-tested; no broker). A thread serves lines over
    TCP; the streaming query must deliver them, windowed-aggregate-able,
    to a memory sink."""
    import socket as socketlib
    import threading
    import time as _time

    from windflow_spark.streaming import socket_stream

    srv = socketlib.socket(socketlib.AF_INET, socketlib.SOCK_STREAM)
    srv.setsockopt(socketlib.SOL_SOCKET, socketlib.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    srv.listen(1)
    lines = [f"k{i % 3},{i}" for i in range(30)]

    def serve():
        conn, _ = srv.accept()
        # dribble in two chunks so delivery spans micro-batches
        conn.sendall(("\n".join(lines[:15]) + "\n").encode())
        _time.sleep(1.0)
        conn.sendall(("\n".join(lines[15:]) + "\n").encode())
        _time.sleep(3.0)
        conn.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    raw = socket_stream(spark, "127.0.0.1", port)
    parsed = raw.select(
        F.split("value", ",")[0].alias("key"),
        F.split("value", ",")[1].cast("long").alias("v"),
    )
    q = (
        parsed.writeStream.format("memory")
        .queryName("socket_mem")
        .outputMode("append")
        .start()
    )
    try:
        deadline = _time.time() + 60
        while _time.time() < deadline:
            if spark.table("socket_mem").count() >= 30:
                break
            _time.sleep(0.5)
        got = sorted(
            map(tuple, spark.table("socket_mem").select("key", "v").collect())
        )
        assert got == sorted((f"k{i % 3}", i) for i in range(30))
    finally:
        q.stop()
        srv.close()


def test_streaming_page_hinkley_matches_sequential_reference(
    spark, tmp_path_factory
):
    """Per-key Page-Hinkley across two time-ordered micro-batches + EOS:
    emitted (bucket, z, ph, excursion, alert) rows must equal the pure
    sequential recursion bit-for-bit (same IEEE op sequence as the batch
    page_hinkley_drift_daily windows), with a mean shift injected into
    one key so the λ alert actually fires."""
    import random
    import time as _time

    from windflow_spark.streaming import (
        file_stream as _fs,
        streaming_page_hinkley,
        to_memory_sink,
    )

    BUCKET = 100
    DELTA, LAM = 0.01, 0.25
    rng = random.Random(7)
    rows = []
    for k in ("a", "b"):
        for us in range(0, 4000):
            if rng.random() < 0.4:
                base = 1.0 if (k == "a" and us >= 2000) else 0.5
                rows.append((k, us, base + rng.random() * 0.1, False))
    schema = "k string, us long, v double, eos boolean"

    # sequential reference: identical recursion per key in bucket order
    expect = []
    for k in ("a", "b"):
        by_bucket: dict[int, list[float]] = {}
        for kk, us, v, _ in rows:
            if kk == k:
                by_bucket.setdefault(us // BUCKET, []).append((us, v))
        t, cum_z, ph, min_ph = 0, 0.0, 0.0, 0.0
        for b in sorted(by_bucket):
            vs = [v for _, v in sorted(by_bucket[b], key=lambda e: e[0])]
            s = 0.0
            for v in vs:
                s += v
            z = s / len(vs)
            t += 1
            cum_z += z
            ph += z - cum_z / t - DELTA
            if t == 1 or ph < min_ph:
                min_ph = ph
            exc = ph - min_ph
            expect.append((k, b * BUCKET, z, ph, exc, exc > LAM))
    expect.sort()
    assert any(e[5] for e in expect), "fixture must fire at least one alert"

    path = str(tmp_path_factory.mktemp("ph_src"))
    mid = 2100
    spark.createDataFrame([r for r in rows if r[1] <= mid], schema).coalesce(
        1
    ).write.mode("append").parquet(path)
    _time.sleep(1.1)
    spark.createDataFrame([r for r in rows if r[1] > mid], schema).coalesce(
        1
    ).write.mode("append").parquet(path)
    _time.sleep(1.1)
    eos = [(k, 10**9, 0.0, True) for k in ("a", "b")]
    spark.createDataFrame(eos, schema).coalesce(1).write.mode("append").parquet(path)

    stream = _fs(spark, path, spark.createDataFrame(rows, schema).schema,
                 max_files_per_trigger=1)
    out = streaming_page_hinkley(
        stream, "k", BUCKET, delta=DELTA, lam=LAM, eos_col="eos"
    )
    name, _ = to_memory_sink(out, output_mode="append")
    got = sorted(
        (r.k, r.bucket, r.z, r.ph, r.excursion, r.alert)
        for r in spark.table(name).collect()
    )
    assert got == expect and len(expect) > 40
