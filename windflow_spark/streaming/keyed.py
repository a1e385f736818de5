"""The one keyed-state driver behind every GroupState streaming operator.

WindFlow's keyed stateful operators (the P_* persistent family and the CB
windows) share one runtime contract: state is per key, rows fold in per-key
order, and an in-band EOS punctuation flushes and clears the key's state
(reference wf/window_replica.hpp:356-400, wf/persistent/p_*.hpp). This
module owns that contract once; each operator in streaming/ops.py and
streaming/persistent.py supplies only a step function.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator, Sequence
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def field_names(ddl: str) -> list[str]:
    """Top-level field names of a DDL schema string such as
    ``"k long, xs array<long>, d decimal(10,2)"``."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(ddl):
        depth += (ch in "<(") - (ch in ">)")
        if ch == "," and depth == 0:
            parts.append(ddl[start:i])
            start = i + 1
    parts.append(ddl[start:])
    return [re.match(r"\s*`?([^`:\s]+)", p).group(1) for p in parts]


def keyed_fold(
    df: DataFrame,
    key_cols: Sequence[str],
    step: Callable[..., tuple[Any, Any]],
    output_schema: str,
    state_schema: str,
    init_state: tuple,
    order: Sequence[str] = (),
    eos_col: str | None = None,
    watermark: bool = False,
) -> DataFrame:
    """Fold ``df`` grouped by ``key_cols`` through ``step``, one call per key
    and micro-batch:

    1. load the key's state tuple, or ``init_state`` for a new key;
    2. merge every Arrow chunk of the group — a group larger than
       ``spark.sql.execution.arrow.maxRecordsPerBatch`` arrives as several
       chunks with no cross-chunk order — then stable-sort by ``order``;
    3. split off the ``eos_col`` punctuation rows (true = EOS), so the step
       sees data rows only and the EOS orders after all of them;
    4. call ``step(key, state, rows, eos)`` (plus the operator watermark in
       µs when ``watermark``), which returns ``(out, new_state)``;
    5. ``state.remove()`` on EOS or when ``new_state`` is None, otherwise
       ``state.update(new_state)``;
    6. yield ``out``: a DataFrame as is, or a list of rows framed with the
       output schema's columns (a typed empty frame when there are none).
    """
    cols = field_names(output_schema)
    order = list(order)

    def fold(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        chunks = list(pdfs)
        rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        eos = False
        if eos_col is not None:
            flags = rows[eos_col].fillna(False).to_numpy(dtype=bool)
            eos = bool(flags.any())
            if eos:
                rows = rows[~flags]
        if order:
            rows = rows.sort_values(order, kind="stable")
        st = state.get if state.exists else init_state
        extra = (state.getCurrentWatermarkMs() * 1000,) if watermark else ()
        out, new_st = step(key, st, rows, eos, *extra)
        if eos or new_st is None:
            state.remove()
        else:
            state.update(tuple(new_st))
        yield out if isinstance(out, pd.DataFrame) else pd.DataFrame(out, columns=cols)

    return df.groupBy(*key_cols).applyInPandasWithState(
        fold, output_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
