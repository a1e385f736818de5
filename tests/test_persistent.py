"""P_* persistent-state operators (SURVEY.md §2.9): user logic with per-key
durable state. Semantics checked against hand-computed batch folds; the
RocksDB state store provider is exercised for real (rocksdb_state_conf) —
the same state, provider-swapped, must give identical results."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from windflow_spark.streaming import (
    file_stream,
    p_filter,
    p_flatmap,
    p_map,
    p_reduce,
    rocksdb_state_conf,
    to_memory_sink,
)


def _mk(spark, rows):
    return spark.createDataFrame(
        [(k, v, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i)) for i, (k, v) in enumerate(rows)],
        "key long, value long, ts timestamp",
    )


@pytest.fixture(scope="module")
def pstream(spark, tmp_path_factory):
    rows = [(i % 3, i) for i in range(30)]
    batch = _mk(spark, rows)
    path = str(tmp_path_factory.mktemp("p_src"))
    batch.coalesce(2).write.mode("overwrite").parquet(path)
    return batch, lambda: file_stream(spark, path, batch.schema)


def test_p_map_running_delta(spark, pstream):
    batch, mk_stream = pstream
    # out = value - previous value for the key (state = last value seen)
    out = p_map(
        mk_stream(), ["key"], "ts",
        lambda row, st: (
            {"key": row["key"], "ts": row["ts"], "delta": row["value"] - st[0],
             }, st.__setitem__(0, row["value"]))[0],
        "key long, ts timestamp, delta long", "last long", (0,),
    )
    name, _ = to_memory_sink(out, output_mode="append")
    got = {(r.key, r.ts): r.delta for r in spark.table(name).collect()}
    # oracle: per-key lag
    from pyspark.sql import Window as W
    expect = {
        (r.key, r.ts): r.delta
        for r in batch.withColumn(
            "delta", F.col("value") - F.lag("value", 1, 0).over(W.partitionBy("key").orderBy("ts"))
        ).collect()
    }
    assert got == expect and len(got) == 30


def test_p_filter_stateful_dedup(spark, pstream):
    batch, mk_stream = pstream
    # keep a row only the first time (key, value % 4) is seen — stateful dedup
    def pred(row, st):
        seen = st[0] or ""
        tok = str(row["value"] % 4)
        if tok in seen.split(","):
            return False
        st[0] = seen + "," + tok if seen else tok
        return True

    out = p_filter(
        mk_stream(), ["key"], "ts", pred,
        "key long, value long, ts timestamp", "seen string", ("",),
    )
    name, _ = to_memory_sink(out, output_mode="append")
    got = sorted((r.key, r.value) for r in spark.table(name).collect())
    first_seen = {}
    for r in sorted(batch.collect(), key=lambda r: r.ts):
        first_seen.setdefault((r.key, r.value % 4), (r.key, r.value))
    assert got == sorted(first_seen.values())


def test_p_flatmap_emits_n_copies(spark, pstream):
    batch, mk_stream = pstream
    # emit (row index within key) copies: 1st row of a key → 1 copy, etc.
    def fn(row, st):
        st[0] += 1
        return [{"key": row["key"], "value": row["value"], "copy": i} for i in range(min(st[0], 2))]

    out = p_flatmap(
        mk_stream(), ["key"], "ts", fn,
        "key long, value long, copy long", "n long", (0,),
    )
    name, _ = to_memory_sink(out, output_mode="append")
    got = spark.table(name).count()
    # per key: 10 rows → 1 + 2*9 = 19 outputs
    assert got == 3 * 19


def test_p_reduce_running_max_rocksdb(spark, pstream):
    batch, mk_stream = pstream
    for k, v in rocksdb_state_conf().items():
        spark.conf.set(k, v)
    try:
        def fold(row, st):
            st[0] = max(st[0], row["value"])
            st[1] += 1

        out = p_reduce(
            mk_stream(), ["key"], "ts", fold,
            "key long, ts timestamp, mx long, cnt long", "mx long, cnt long", (0, 0),
        )
        name, _ = to_memory_sink(out, output_mode="append")
        got = sorted((r.key, r.ts, r.mx, r.cnt) for r in spark.table(name).collect())
        from pyspark.sql import Window as W
        w = W.partitionBy("key").orderBy("ts")
        expect = sorted(
            (r.key, r.ts, r.mx, r.cnt)
            for r in batch.select(
                "key", "ts",
                F.max("value").over(w).alias("mx"),
                F.count(F.lit(1)).over(w).alias("cnt"),
            ).collect()
        )
        assert got == expect and len(got) == 30
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_p_reduce_vector_fold_matches_per_row(spark, pstream):
    """The vectorized fast path (VERDICT r2 'wrong' #4) must produce
    byte-identical output to the per-row Python fold — running (max, count)
    via numpy accumulate with explicit state carry-in/out."""
    import numpy as np
    import pandas as pd

    batch, mk_stream = pstream

    def fold(row, st):
        st[0] = max(st[0], row["value"])
        st[1] += 1

    def vfold(st, pdf):
        mx0, cnt0 = st
        mx = np.maximum.accumulate(np.maximum(pdf["value"].to_numpy(), mx0))
        cnt = cnt0 + np.arange(1, len(pdf) + 1)
        new_state = (int(mx[-1]), int(cnt[-1])) if len(pdf) else (mx0, cnt0)
        return pd.DataFrame({"mx": mx, "cnt": cnt}), new_state

    schema = "key long, ts timestamp, mx long, cnt long"
    per_row = p_reduce(
        mk_stream(), ["key"], "ts", fold, schema, "mx long, cnt long", (0, 0)
    )
    vectored = p_reduce(
        mk_stream(), ["key"], "ts", None, schema, "mx long, cnt long", (0, 0),
        vector_fold=vfold,
    )
    n1, _ = to_memory_sink(per_row, output_mode="append")
    n2, _ = to_memory_sink(vectored, output_mode="append")
    a = sorted((r.key, r.ts, r.mx, r.cnt) for r in spark.table(n1).collect())
    b = sorted((r.key, r.ts, r.mx, r.cnt) for r in spark.table(n2).collect())
    assert a == b and len(a) == 30
