"""windflow_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of ParaGroup/WindFlow.

WindFlow (reference: /root/reference, C++17 header-only streaming library on
FastFlow) provides a dataflow surface of Source/Map/Filter/FlatMap/Reduce/
window aggregations/interval join/Sink composed into MultiPipes and PipeGraphs
(reference wf/basic.hpp:95-173). This package re-expresses those semantics
Spark-first:

- declarative DataFrame/SQL plans (Catalyst optimizes; we never hand-schedule),
- event-time semantics via timestamp columns + watermarks,
- keyed state via groupBy/partitionBy, never driver-side loops,
- Structured Streaming for unbounded inputs,
- plus the relational + LLM-data-pipeline layer the reference lacks
  (joins of all types, dedup, similarity search, text analysis, multimodal).

Everything is designed for 100 TB scale: no collect() inside operators,
broadcast hints for small dimensions, partial aggregation, pushdown-friendly
expressions, AQE-assisted shuffles.
"""

import os as _os

# Python UDF workers import this package by name when they unpickle a
# function. They are started by the JVM with the PYTHONPATH the JVM
# inherited from this process, not with this process's sys.path; so a
# script that only put the repository on sys.path, run from another
# directory, left its workers without the package. Export the directory
# holding the package before any session starts.
_ROOT = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
if _ROOT not in _os.environ.get("PYTHONPATH", "").split(_os.pathsep):
    _os.environ["PYTHONPATH"] = _os.pathsep.join(
        p for p in (_ROOT, _os.environ.get("PYTHONPATH")) if p
    )

from windflow_spark.session import get_spark, stop_spark
from windflow_spark.tables import TABLE_NAMES, load_table, load_tables
from windflow_spark.core.graph import PipeGraph, MultiPipe, ExecutionMode, TimePolicy
from windflow_spark.io import (
    infer_format,
    read_table_any,
    write_table_any,
    read_text_lines,
    read_binary_files,
)

__all__ = [
    "get_spark",
    "stop_spark",
    "TABLE_NAMES",
    "load_table",
    "load_tables",
    "PipeGraph",
    "MultiPipe",
    "ExecutionMode",
    "TimePolicy",
    "infer_format",
    "read_table_any",
    "write_table_any",
    "read_text_lines",
    "read_binary_files",
]

__version__ = "0.1.0"
