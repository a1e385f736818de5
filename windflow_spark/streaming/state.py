"""Persistent-state configuration — the P_* operator analog (SURVEY.md §2.9).

WindFlow's P_Filter/P_Map/P_Reduce/P_Keyed_Windows keep per-key state in
RocksDB (reference wf/persistent/p_filter.hpp:292 etc.). In Spark the same
durability is a STATE STORE PROVIDER config, not per-operator code: every
stateful streaming operator (windows, dedup, the keyed_fold operators) puts
its keyed state in RocksDB with changelog checkpointing.
"""

from __future__ import annotations


def rocksdb_state_conf(
    changelog_checkpointing: bool = True,
    bounded_memory_mb: int | None = None,
) -> dict[str, str]:
    """Session confs enabling the RocksDB state store provider. Apply with
    get_spark(extra_conf=rocksdb_state_conf()) or spark.conf.set per key.

    At 100 TB state scale this is mandatory: HDFS-backed in-memory state
    OOMs; RocksDB spills to local disk with changelog checkpoints to the
    checkpoint location (incremental, not full snapshots).
    """
    conf = {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
            "true" if changelog_checkpointing else "false"
        ),
    }
    if bounded_memory_mb is not None:
        conf["spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage"] = "true"
        conf["spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB"] = str(
            bounded_memory_mb
        )
    return conf
