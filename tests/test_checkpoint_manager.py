"""Local sessions write streaming checkpoints through Spark's FileSystem
checkpoint manager (session.py): the no-overwrite guarantee the offset log
relies on still holds, and a query restarted on its checkpoint resumes its
offsets and window state exactly."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from windflow_spark.operators.windows import tumbling_window_tb
from windflow_spark.session import _FS_CHECKPOINT_MANAGER, _is_local
from windflow_spark.streaming import file_stream, streaming_tumbling_window_tb

SEC = 1_000_000
MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def _checkpoint_manager(spark, directory):
    """The manager Spark itself builds for a checkpoint directory: the class
    is read from the session's Hadoop conf, as at query start."""
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    path = jvm.org.apache.hadoop.fs.Path(directory)
    cfm = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    return cfm.CheckpointFileManager.create(path, conf)


@pytest.mark.parametrize(
    "master, local",
    [
        ("local", True),
        ("local[4]", True),
        ("local[*]", True),
        ("local-cluster[2,1,1024]", True),
        ("spark://host:7077", False),
        ("yarn", False),
        ("k8s://https://host:6443", False),
    ],
)
def test_only_local_masters_switch_manager(master, local):
    assert _is_local(master) is local


def test_session_uses_filesystem_manager(spark, tmp_path):
    assert spark.conf.get(MANAGER_KEY) == _FS_CHECKPOINT_MANAGER
    fm = _checkpoint_manager(spark, str(tmp_path))
    assert fm.getClass().getName() == _FS_CHECKPOINT_MANAGER


def test_create_atomic_without_overwrite_refuses_existing_file(spark, tmp_path):
    """HDFSMetadataLog writes each offset/commit log entry with
    ``createAtomic(path, overwriteIfPossible=False)``; a second writer of
    the same batch id must fail, not replace the entry."""
    jvm = spark._jvm
    fm = _checkpoint_manager(spark, str(tmp_path))
    target = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0"))

    def write(byte, overwrite):
        out = fm.createAtomic(target, overwrite)
        out.write(byte)
        out.close()

    write(1, False)
    with pytest.raises(Exception) as err:
        write(2, False)
    already = jvm.java.lang.Class.forName("org.apache.hadoop.fs.FileAlreadyExistsException")
    assert already.isInstance(err.value.java_exception)
    assert (tmp_path / "0").read_bytes() == b"\x01"
    # overwriteIfPossible=True is a best effort that must not raise; over
    # Hive's ProxyLocalFileSystem the existing file stays (ARCHITECTURE.md)
    write(3, True)
    assert (tmp_path / "0").read_bytes() in (b"\x01", b"\x03")


def _events(spark, rows):
    base = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [(k, v, base + dt.timedelta(microseconds=ts)) for k, v, ts in rows],
        "key long, value long, ts timestamp",
    )


def test_restart_on_checkpoint_resumes_window_state(spark, tmp_path):
    """Run the keyed tumbling window over a file stream, stop, add files,
    restart on the same checkpoint: the restarted run reads only the new
    files, and its window updates build on the recovered state, so the last
    emitted value of every window equals the batch sibling over all
    files."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    length, lateness = 2 * SEC, 30 * SEC
    aggs = [F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv")]
    first = [(i % 3, i, i * 350_000) for i in range(30)]  # 0 .. 10.2 s
    second = [(i % 3, 100 + i, 4 * SEC + i * 400_000) for i in range(25)]  # 4 .. 13.6 s
    # second-run rows land in first-run windows, so the totals checked
    # below hold only if the restarted query reads the first run's state
    windows = [{(k, ts // length) for k, _, ts in rows} for rows in (first, second)]
    assert len(windows[0] & windows[1]) >= 6
    half = len(first) // 2
    for rows in (first[:half], first[half:]):
        _events(spark, rows).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    emitted: dict[tuple, tuple] = {}

    def upsert(batch_df, batch_id):
        for r in batch_df.collect():
            emitted[(r.key, r.w_start)] = (r.cnt, r.sv)

    def run():
        out = streaming_tumbling_window_tb(
            file_stream(spark, src, schema), ["key"], "ts", length, aggs, lateness
        )
        q = (
            out.writeStream.foreachBatch(upsert)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sum(p["numInputRows"] for p in q.recentProgress)

    assert run() == len(first)
    state_files = [
        f for _, _, files in os.walk(os.path.join(ckpt, "state")) for f in files
    ]
    assert any(f.endswith(".delta") for f in state_files)

    _events(spark, second).coalesce(1).write.mode("append").parquet(src)
    assert run() == len(second)  # offsets and the file-source log recovered

    batch = spark.read.parquet(src)
    expect = sorted(
        (r.key, r.w_start, r.cnt, r.sv)
        for r in tumbling_window_tb(batch, ["key"], "ts", length, aggs).collect()
    )
    got = sorted((k, w, c, s) for (k, w), (c, s) in emitted.items())
    assert got == expect

