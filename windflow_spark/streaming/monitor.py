"""Streaming observability — per-query throughput and state-size stats.

The reference ships an opt-in monitoring layer (`WF_TRACING_ENABLED`,
reference wf/basic.hpp:259, surfaced by the WindFlow_Dashboard web UI) that
reports per-operator throughput and buffer occupancy. Spark's analog signal
is the StreamingQueryProgress feed; this module packages it as a
`StreamingQueryListener` that keeps a bounded in-memory history per query
and exposes aggregate stats — rows/sec, batch durations and their
``durationMs`` breakdown, stateful-operator row counts, memory and commit
time — without touching the data path (listener callbacks
run on Spark's listener bus thread, not inside tasks, so monitoring cost at
100 TB is zero on the hot path).

Usage::

    mon = monitor_streams(spark)          # attach
    ... run streaming queries ...
    mon.stats()                           # {query_id: {...aggregates...}}
    mon.remove()                          # detach

An optional ``sink`` callable receives every raw progress dict as it
arrives (e.g. append-to-jsonl for an external dashboard — the
WindFlow_Dashboard equivalent wiring point).
"""

from __future__ import annotations

import json
import threading
from collections import deque
from statistics import median
from typing import Callable

# durationMs phases reported as medians over the batches that read rows:
# the fixed per-batch costs (log writes, planning) next to the work itself
PHASES = {
    "add_batch_ms_p50": "addBatch",
    "wal_commit_ms_p50": "walCommit",
    "commit_offsets_ms_p50": "commitOffsets",
    "query_planning_ms_p50": "queryPlanning",
}


def _median(values: list) -> float | None:
    return float(median(values)) if values else None


def summarize(snaps: list[dict], name: str = "") -> dict:
    """Aggregate stats of one query's progress dicts (oldest first).

    The phase medians and ``state_commit_ms_p50`` (the state operators'
    ``commitTimeMs``, summed per batch) are taken over the batches that
    read rows, and are None when there are none; ``state_rows`` and
    ``state_memory_bytes`` come from the last batch."""
    rows = [s.get("numInputRows", 0) or 0 for s in snaps]
    proc = [s.get("processedRowsPerSecond", 0.0) or 0.0 for s in snaps]
    durs = [
        (s.get("durationMs") or {}).get("triggerExecution", 0) or 0 for s in snaps
    ]
    last_state = snaps[-1].get("stateOperators") or []
    data = [s for s in snaps if s.get("numInputRows")]
    out = {
        "name": name or snaps[-1].get("name") or "",
        "batches": len(snaps),
        "last_batch_id": snaps[-1].get("batchId"),
        "total_input_rows": sum(rows),
        "avg_processed_rows_per_sec": sum(proc) / len(proc),
        "avg_batch_ms": sum(durs) / len(durs),
        "max_batch_ms": max(durs),
        "state_rows": sum(op.get("numRowsTotal", 0) or 0 for op in last_state),
        "state_memory_bytes": sum(
            op.get("memoryUsedBytes", 0) or 0 for op in last_state
        ),
    }
    for key, phase in PHASES.items():
        out[key] = _median(
            [s["durationMs"][phase] for s in data if phase in (s.get("durationMs") or {})]
        )
    out["state_commit_ms_p50"] = _median(
        [
            sum(op.get("commitTimeMs", 0) or 0 for op in s["stateOperators"])
            for s in data
            if s.get("stateOperators")
        ]
    )
    return out


class StreamMonitor:
    """Bounded per-query progress history + aggregate stats. Thread-safe:
    the listener bus delivers events on its own thread."""

    def __init__(self, spark, max_history: int = 100, sink: Callable | None = None):
        from pyspark.sql.streaming import StreamingQueryListener

        self._lock = threading.Lock()
        self._history: dict[str, deque] = {}
        self._names: dict[str, str] = {}
        self._spark = spark
        self._sink = sink
        outer = self

        class _Monitor(StreamingQueryListener):
            def onQueryStarted(self, event):
                with outer._lock:
                    outer._names[str(event.id)] = event.name or ""

            def onQueryProgress(self, event):
                p = event.progress
                try:
                    d = json.loads(p.json)
                except Exception:  # defensive: never break the listener bus
                    return
                qid = str(d.get("id", ""))
                with outer._lock:
                    h = outer._history.setdefault(qid, deque(maxlen=max_history))
                    h.append(d)
                    if d.get("name"):
                        outer._names[qid] = d["name"]
                if outer._sink is not None:
                    try:
                        outer._sink(d)
                    except Exception:
                        # A user sink that raises must not kill the listener
                        # bus (it is shared by ALL queries' monitoring) —
                        # same defensive posture as the parse guard above.
                        pass

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Monitor()
        spark.streams.addListener(self._listener)

    def stats(self) -> dict[str, dict]:
        """Aggregate per-query stats over the retained history."""
        with self._lock:
            return {
                qid: summarize(list(h), self._names.get(qid, ""))
                for qid, h in self._history.items()
                if h
            }

    def history(self, query_id: str) -> list[dict]:
        """Raw retained progress dicts for one query (oldest first)."""
        with self._lock:
            return list(self._history.get(str(query_id), ()))

    def remove(self) -> None:
        self._spark.streams.removeListener(self._listener)


def monitor_streams(
    spark, max_history: int = 100, sink: Callable | None = None
) -> StreamMonitor:
    """Attach a StreamMonitor to this session's listener bus."""
    return StreamMonitor(spark, max_history=max_history, sink=sink)
