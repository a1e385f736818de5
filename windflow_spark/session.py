"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every knob here is chosen for a
multi-executor cluster: AQE on (runtime re-plan, skew-join splitting,
partition coalescing), Arrow for the few Pandas-UDF paths, sensible
broadcast threshold so dimension tables (region/nation/supplier/part at
TPC-H-ish scale) broadcast instead of shuffling the fact table.

Python call-site capture is off (``spark.python.sql.dataFrameDebugging.
enabled=false``). PySpark 4.1 otherwise wraps every ``F.*`` function and
``Column`` operator to record the caller's ``file:line`` for error
messages, at about five py4j round trips per call: building nine
sub-second registry queries at sf0.1 took 2,114 round trips with it and
824 without (``filter_events`` 77 -> 27, ``interval_join_bucketed``
507 -> 147; SCALE.md has the table).
Plans and results do not change; the one visible effect is that ANSI
runtime errors no longer name the Python ``file:line`` in their
DataFrame context. To get it back, pass
``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``.
PySpark reads the flag at the process's first ``F.*`` or ``Column`` call
and caches it, so it must be set when the session is built.

Local masters (``local``, ``local[...]``, ``local-cluster[...]``) write
streaming checkpoints through Spark's ``FileSystemBasedCheckpointFileManager``
instead of its default ``FileContextBasedCheckpointFileManager``. Without
Hadoop's native library, every checkpoint file the FileContext manager
renames forks four ``readlink`` processes (``FileContext.rename`` checks
both paths, and their ``.crc`` files, with ``getFileLinkStatus``); the
FileSystem manager makes the same no-overwrite check with ``exists``,
which forks nothing. That covers the offset and commit logs, the file
source and sink logs, and the state-store and RocksDB changelog files.
Cluster masters keep Spark's default, whose rename is atomic on HDFS.
ARCHITECTURE.md §Session defaults has the rename-semantics evidence, the
per-batch times and the one behaviour that differs (a state version
committed twice leaves a temp file); ``extra_conf`` can set the class
back.

Every master gets a generated-class cache of ``CODEGEN_CACHE_ENTRIES``
(8,192) entries instead of Spark's 100 (``spark.sql.codegen.cache.maxEntries``).
Spark compiles each whole-stage-codegen class, projection and predicate
with Janino and keeps the compiled class in one cache per JVM, keyed by its
source text, so a query that runs again reuses its classes instead of
compiling them again. One sf0.01 pass over the registry compiles about
4,600 distinct classes; with 100 entries the pass compiled 7,186-7,227,
and a second pass over its first 60 queries compiled 1,485-1,489 again
against 86-94 with this cache (classes whose source changes between
invocations, e.g. an inlined literal). 8,192 is the smallest power of two
at that floor (4,096 left 870). The cost is memory that stays with the
JVM: about 37 MB more metaspace and about 113 MB more heap after that
pass (SCALE.md §Generated-code cache). The size is read once, when the
JVM first generates code, so it must be set when the session is built.
It is set for cluster masters too: executors compile their tasks' classes
through their own JVM's cache. ``extra_conf`` overrides it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Spark's generated-class cache holds 100 classes by default; one sf0.01
# pass over the registry compiles about 4,600 distinct ones (module docstring)
CODEGEN_CACHE_ENTRIES = 8192

_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _is_local(master: str) -> bool:
    return master.split("[", 1)[0] in ("local", "local-cluster")


def get_spark(
    app_name: str = "windflow_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    Defaults scale with the environment: ``SPARK_GRAFT_CPUS`` controls
    local parallelism (driver contract), shuffle partitions default to the
    core count — at cluster scale this is overridden per-job or left to AQE
    coalescing.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # no per-Column call-site round trips (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # compile each generated class once per session (module docstring)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # keep catalog-table data (bucketed tables in tests) out of the repo
        .config("spark.sql.warehouse.dir", os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", "/tmp/windflow-spark-warehouse"))
    )
    if _is_local(master):
        # no forked shell commands per checkpoint file (module docstring)
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass", _FS_CHECKPOINT_MANAGER
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
