"""Streaming operator forms.

Watermark note (SURVEY.md §7 hard part 2): WindFlow watermarks are in-band
punctuations min-merged per input channel (reference
wf/watermark_collector.hpp:64-79); Spark's is global max(event_time) − delay
per trigger. For keyed windowed aggregates the observable difference is only
WHEN results fire, not WHAT fires — withWatermark(delay) plays the role of
withLateness(µs) (reference wf/builders.hpp:743-781).
"""

from __future__ import annotations

import bisect
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from windflow_spark.operators.interval_join import (
    interval_join,
    interval_join_bucketed,
    interval_join_full_bucketed,
)
from windflow_spark.operators.timeutil import event_micros
from windflow_spark.streaming.keyed import keyed_fold


def _round_half_up(x: float, nd: int = 6) -> float:
    """Round exactly as Spark's ``F.round`` / DuckDB's ``round`` do on
    doubles: decimal HALF_UP (away from zero) on the exact binary value.
    Python's builtin ``round`` is banker's (half-even) — a dyadic result
    landing exactly on a .5 decimal boundary (e.g. an alpha=0.25 EWMA
    reaching 1.6328125) would differ in the last digit and break
    streaming≡batch parity. Decimal(float) is exact, matching the JVM's
    BigDecimal(double) path."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(x).quantize(Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP)
    )


def _dur(us: int) -> str:
    return f"{us} microseconds"


def streaming_tumbling_window_tb(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    length_us: int,
    aggs: Sequence[Column],
    lateness_us: int = 0,
    window_col: str = "w_start",
) -> DataFrame:
    """Keyed_Windows TB tumbling, streaming form: watermark + window().
    Epoch-aligned like the batch form (F.window aligns to epoch)."""
    return (
        df.withWatermark(ts_col, _dur(max(lateness_us, 1)))
        .groupBy(*key_cols, F.window(ts_col, _dur(length_us)))
        .agg(*aggs)
        .withColumn(window_col, F.col("window.start"))
        .drop("window")
    )


def streaming_sliding_window_tb(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    length_us: int,
    slide_us: int,
    aggs: Sequence[Column],
    lateness_us: int = 0,
    window_col: str = "w_start",
) -> DataFrame:
    """Sliding/hopping TB windows via window(ts, len, slide).

    Hopping WITH GAPS (len < slide, reference wf semantics: events between
    windows belong to no window) is not expressible with the native
    window() (Spark requires slide <= len). But with gaps each event
    belongs to AT MOST ONE window, so the equivalent streaming plan is:
    filter events whose offset within the hop period falls inside the
    window, then tumble by the period — gap events drop pre-aggregation and
    empty hops emit nothing, matching the batch explode form exactly.
    """
    if slide_us > length_us:
        us = event_micros(df, ts_col)
        df = df.filter((us % F.lit(slide_us)) < F.lit(length_us))
        win = F.window(ts_col, _dur(slide_us))
    else:
        win = F.window(ts_col, _dur(length_us), _dur(slide_us))
    return (
        df.withWatermark(ts_col, _dur(max(lateness_us, 1)))
        .groupBy(*key_cols, win)
        .agg(*aggs)
        .withColumn(window_col, F.col("window.start"))
        .drop("window")
    )


def streaming_session_window(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    gap_us: int,
    aggs: Sequence[Column],
    lateness_us: int = 0,
) -> DataFrame:
    """Session windows (gap-merged) — native session_window; batch sibling
    is operators.windows.session_window_agg."""
    return (
        df.withWatermark(ts_col, _dur(max(lateness_us, 1)))
        .groupBy(*key_cols, F.session_window(ts_col, _dur(gap_us)))
        .agg(*aggs)
        .withColumn("session_start", F.col("session_window.start"))
        .withColumn("session_end", F.col("session_window.end"))
        .drop("session_window")
    )


def _watermarked(
    a: DataFrame, b: DataFrame, a_ts: str, b_ts: str, watermark_us: int
) -> tuple[DataFrame, DataFrame]:
    return (
        a.withWatermark(a_ts, _dur(watermark_us)),
        b.withWatermark(b_ts, _dur(watermark_us)),
    )


def streaming_interval_join(
    a: DataFrame,
    b: DataFrame,
    key_cols: Sequence[str],
    a_ts: str,
    b_ts: str,
    lower_us: int,
    upper_us: int,
    watermark_us: int = 1,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: both inputs watermarked, then
    operators.interval_join.interval_join, whose range condition Spark
    inverts into state retention the way the reference purges archives by
    watermark (wf/interval_join.hpp:109-117,153-159).

    ``how`` ∈ {'inner', 'left', 'right', 'full'}: outer forms null-emit
    the unmatched preserved-side row once its buffered state expires past
    the watermark — WindFlow's join is inner-only (wf/interval_join.hpp:279),
    this is the Spark-native completion for late-unmatched detection.
    Outer emission REQUIRES a real watermark delay (Spark emits nulls only
    when state provably cannot match anymore), so watermark_us bounds the
    null-emission latency. 'full' preserves BOTH sides in ONE join —
    possible here (unlike the bucketed form, which must decompose) because
    neither side is replicated.

    The streaming range condition is native timestamp+INTERVAL arithmetic
    (the only form Spark can turn into per-side state watermarks), which
    follows the session time zone on TIMESTAMP columns: in a non-UTC
    session with DST (e.g. America/New_York) a bound of 1 day or more spans
    23 or 25 h across a DST change, where the batch form adds exact µs.
    ``get_spark`` pins the session to UTC, so its sessions match batch."""
    if how not in ("inner", "left", "right", "full"):
        raise ValueError(f"how must be inner|left|right|full, got {how!r}")
    aw, bw = _watermarked(a, b, a_ts, b_ts, watermark_us)
    return interval_join(aw, bw, key_cols, a_ts, b_ts, lower_us, upper_us, how=how)


def streaming_interval_join_bucketed(
    a: DataFrame,
    b: DataFrame,
    key_cols: Sequence[str],
    a_ts: str,
    b_ts: str,
    lower_us: int,
    upper_us: int,
    bucket_us: int | None = None,
    watermark_us: int = 1,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join blocked by time bucket: both inputs
    watermarked, then operators.interval_join.interval_join_bucketed (same
    (key, bucket) layout and ``how`` ∈ {'inner', 'left', 'right'} flip).
    Spark partitions join state by the equi-key, so the state of a hot key
    spreads over key × time; null emission happens when the preserved row's
    state expires past the watermark, so watermark_us bounds the
    unmatched-detection latency."""
    if how not in ("inner", "left", "right"):
        raise ValueError(f"how must be inner|left|right, got {how!r}")
    aw, bw = _watermarked(a, b, a_ts, b_ts, watermark_us)
    return interval_join_bucketed(
        aw, bw, key_cols, a_ts, b_ts, lower_us, upper_us, bucket_us, how
    )


def streaming_interval_join_full_bucketed(
    a: DataFrame,
    b: DataFrame,
    key_cols: Sequence[str],
    a_ts: str,
    b_ts: str,
    lower_us: int,
    upper_us: int,
    bucket_us: int | None = None,
    watermark_us: int = 1,
    a_prefix: str = "a_",
    b_prefix: str = "b_",
) -> DataFrame:
    """FULL-outer bucketed stream-stream interval join: both inputs
    watermarked, then operators.interval_join.interval_join_full_bucketed
    (union of two outer joins, flat output schema). Null-emission latency
    on both sides is bounded by ``watermark_us``."""
    aw, bw = _watermarked(a, b, a_ts, b_ts, watermark_us)
    return interval_join_full_bucketed(
        aw, bw, key_cols, a_ts, b_ts, lower_us, upper_us, bucket_us,
        a_prefix, b_prefix,
    )


def streaming_rolling_reduce(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    output_schema: str | None = None,
) -> DataFrame:
    """Reduce operator, streaming form: per-key running (count, sum) state
    emitting ONE ROW PER INPUT (the reference's per-input state emission,
    wf/reduce.hpp:~135-142) via the keyed-state driver (streaming/keyed.py).

    Rows within a micro-batch are processed in event-time order per key;
    cross-batch order follows trigger arrival — the same per-key-only
    ordering guarantee the reference provides.
    """
    key_list = list(key_cols)
    output_schema = output_schema or (
        ", ".join(f"{k} long" for k in key_list)
        + f", {ts_col} timestamp, {value_col} double, running_cnt long, running_sum double"
    )
    state_schema = "cnt long, s double"

    def step(key, st, rows, eos):
        cnt, s = st
        vals = rows[value_col].to_numpy(dtype=np.float64)
        res = rows[key_list + [ts_col, value_col]].copy()
        # vectorized running state: cumsum over the batch + carry-in
        res["running_cnt"] = cnt + np.arange(1, len(vals) + 1)
        run = s + np.cumsum(vals)
        res["running_sum"] = run
        if len(vals):
            cnt, s = cnt + len(vals), float(run[-1])
        return res, (cnt, s)

    return keyed_fold(
        df, key_list, step, output_schema, state_schema, (0, 0.0), order=[ts_col]
    )


def streaming_tumbling_window_cb(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    length: int,
    eos_col: str | None = None,
) -> DataFrame:
    """Count-based tumbling windows, streaming form (SURVEY.md §7 hard part
    1 — no native support): per-key progressive counter + per-window partial
    aggregates in GroupState; a window fires when its count reaches
    ``length``.

    EOS flush (reference wf/window_replica.hpp:356-400 fires all open
    windows at end of stream): Spark's grouped-state API has no teardown
    callback, so EOS arrives the way the reference itself propagates it —
    as an IN-BAND punctuation (Single_t's punctuation flag → eosnotify).
    Pass ``eos_col`` naming a boolean column; a true row is a punctuation
    (its value is ignored) that flushes the key's trailing partial window
    and clears its state. Punctuations order after data rows regardless of
    timestamp. ``cb_eos_punctuations`` builds the sentinel frame for
    bounded (availableNow) sources. Without ``eos_col``, trailing partials
    stay in state until query stop.

    Output: (key..., wid, cnt, sum_value) per FIRED window.
    """
    key_list = list(key_cols)
    output_schema = (
        ", ".join(f"{k} long" for k in key_list) + ", wid long, cnt long, sum_value double"
    )
    state_schema = "next_id long, wid long, wcnt long, wsum double"

    def step(key, st, rows, eos):
        next_id, wid, wcnt, wsum = st
        vals = rows[value_col].to_numpy(dtype=np.float64)
        fired: list[tuple] = []
        n = len(vals)
        if n:
            # Per-key ids are CONSECUTIVE from next_id, so each window's
            # rows form one contiguous span: segment-sum via reduceat —
            # no per-row Python. The carry-in partial always merges into
            # the first span (state invariant: wid == next_id // length).
            wids = (next_id + np.arange(n)) // length
            starts = np.nonzero(np.r_[True, wids[1:] != wids[:-1]])[0]
            sums = np.add.reduceat(vals, starts)
            counts = np.diff(np.r_[starts, n])
            uw = wids[starts]
            if wcnt > 0:
                sums[0] += wsum
                counts[0] += wcnt
            full = counts == length
            for w, c, s_ in zip(uw[full], counts[full], sums[full]):
                fired.append(key + (int(w), int(c), float(s_)))
            if full[-1]:
                wcnt, wsum = 0, 0.0
            else:
                wcnt, wsum = int(counts[-1]), float(sums[-1])
            next_id += n
            wid = next_id // length
        if eos and wcnt > 0:  # flush the open partial window at EOS
            fired.append(key + (wid, wcnt, wsum))
        return fired, (next_id, wid, wcnt, wsum)

    return keyed_fold(
        df, key_list, step, output_schema, state_schema, (0, 0, 0, 0.0),
        order=[ts_col], eos_col=eos_col,
    )


def streaming_sliding_window_cb(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    length: int,
    slide: int,
    eos_col: str | None = None,
) -> DataFrame:
    """Count-based SLIDING windows, streaming form: window w covers per-key
    progressive ids [w·slide, w·slide+length); it fires when its last id
    arrives; at most ceil(length/slide) windows are open per key, carried
    in state as parallel arrays. Batch sibling: sliding_window_cb
    (reference wf/window_replica.hpp CB assignment); same EOS punctuation
    contract as streaming_tumbling_window_cb — a true ``eos_col`` row
    flushes all open partials in wid order.

    Vectorized per micro-batch: one cumsum over the batch values, then per
    open/new window a prefix-sum difference over its clamped id span — no
    per-row Python, O(windows-touched) numpy work per batch.

    Output: (key..., wid, cnt, sum_value) per FIRED window.
    """
    key_list = list(key_cols)
    output_schema = (
        ", ".join(f"{k} long" for k in key_list) + ", wid long, cnt long, sum_value double"
    )
    state_schema = "next_id long, wids array<long>, cnts array<long>, sums array<double>"

    def step(key, st, rows, eos):
        next_id, wids, cnts, sums = st
        open_w = {int(w): (int(c), float(s)) for w, c, s in zip(wids, cnts, sums)}
        fired: list[tuple] = []
        vals = rows[value_col].to_numpy(dtype=np.float64)
        n = len(vals)
        if n:
            end = next_id + n
            pre = np.concatenate([[0.0], np.cumsum(vals)])
            # windows still open (w*slide + length > next_id) or newly
            # started in this batch (w*slide <= end-1), w >= 0
            w_lo = max(0, -(-(next_id - length + 1) // slide))
            w_hi = (end - 1) // slide
            ws = np.arange(w_lo, w_hi + 1)
            a = ws * slide
            b = a + length
            lo = np.clip(a - next_id, 0, n).astype(np.int64)
            hi = np.clip(b - next_id, 0, n).astype(np.int64)
            part_c = (hi - lo).astype(np.int64)
            part_s = pre[hi] - pre[lo]
            for w, bb, pc, ps in zip(ws, b, part_c, part_s):
                c0, s0 = open_w.pop(int(w), (0, 0.0))
                c, s = c0 + int(pc), s0 + float(ps)
                if bb <= end:  # last id of the window arrived → fire
                    if c > 0:
                        fired.append(key + (int(w), c, s))
                elif c > 0:
                    open_w[int(w)] = (c, s)
            next_id = end
        keys_sorted = sorted(open_w)
        if eos:  # flush every open partial in wid order
            fired.extend(key + (w,) + open_w[w] for w in keys_sorted)
        return fired, (
            next_id,
            keys_sorted,
            [open_w[w][0] for w in keys_sorted],
            [open_w[w][1] for w in keys_sorted],
        )

    return keyed_fold(
        df, key_list, step, output_schema, state_schema, (0, [], [], []),
        order=[ts_col], eos_col=eos_col,
    )


def cb_eos_punctuations(
    batch: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    eos_col: str = "eos",
) -> DataFrame:
    """One EOS punctuation row per distinct key of ``batch``, timestamped at
    the key's max event time (ordering within a micro-batch is handled by
    the eos flag, not the timestamp). Union this under the data (with
    ``withColumn(eos_col, lit(False))`` on the data side) when writing a
    bounded source that a CB-window query should fully flush — the batch
    analog of the reference runtime broadcasting EOS to every replica."""
    keys = list(key_cols)
    other = [
        f.name for f in batch.schema.fields if f.name not in keys + [ts_col]
    ]
    return (
        batch.groupBy(*keys)
        .agg(F.max(ts_col).alias(ts_col))
        .select(
            *keys,
            ts_col,
            *[F.lit(None).cast(batch.schema[c].dataType).alias(c) for c in other],
            F.lit(True).alias(eos_col),
        )
    )


def streaming_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on: Sequence[str] | str,
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static dimension enrichment: Spark joins each micro-batch
    against the static frame. The static side's FILE LISTING is snapshotted
    when the DataFrame is created, so a dimension overwritten by an
    upstream job is picked up when the (checkpointed) query restarts and
    recreates the plan — for mid-query refresh use a table format with
    snapshot isolation (Delta/Iceberg) or re-read inside foreachBatch. The
    WindFlow analog would be a Map functor capturing a lookup table;
    Spark-first this is a plain join the optimizer can broadcast
    (``broadcast_dim`` for the usual small-dimension case — no shuffle of
    the stream)."""
    d = F.broadcast(dim) if broadcast_dim else dim
    return stream.join(d, on=on, how=how)


def streaming_exact_dedup(
    df: DataFrame,
    dedup_cols: Sequence[str],
    ts_col: str,
    watermark_us: int,
) -> DataFrame:
    """Streaming exact deduplication: first occurrence of ``dedup_cols``
    wins; duplicates arriving within the watermark horizon are dropped and
    state for a key is evicted once the watermark passes it
    (dropDuplicatesWithinWatermark — bounded state, unlike dropDuplicates'
    forever-growing set). The batch sibling is functions.dedup.exact_dedup;
    at 100 TB the watermark bound is what keeps dedup state finite."""
    return df.withWatermark(ts_col, _dur(max(watermark_us, 1))).dropDuplicatesWithinWatermark(
        list(dedup_cols)
    )


def ordered_foreach_batch(
    df: DataFrame,
    ts_col: str,
    tiebreak_cols: Sequence[str],
    fn,
):
    """DETERMINISTIC ordered delivery — the Ordering_Collector analog
    (reference wf/ordering_collector.hpp:51: the collector merge-sorts its
    input channels so a DETERMINISTIC-mode consumer sees tuples in
    watermark-safe timestamp order).

    Spark-first mapping: arrival order across shuffle channels is
    nondeterministic, but micro-batches give a natural merge boundary —
    within each trigger, sort by (event time, *tiebreak) and hand the
    SORTED batch to ``fn(batch_df, batch_id)``. With a total tiebreak the
    delivery order is a pure function of the data, reproducible run to run
    regardless of partitioning, file listing order, or task scheduling.

    Contract and scale notes:
    - Order holds WITHIN a trigger; triggers themselves are sequential, so
      cross-trigger order follows source arrival — bound reordering across
      batch boundaries with withWatermark upstream (the reference's
      collector likewise only reorders within its watermark horizon).
    - A TOTAL order necessarily funnels through one merge point (the
      reference's collector is exactly that single point per consumer
      replica). ``fn`` receives the sorted DataFrame lazily: a sink that
      only needs per-partition order (e.g. one Kafka partition per range)
      can write sortWithinPartitions output in parallel instead of
      collecting.
    """

    def _deliver(batch: DataFrame, batch_id: int) -> None:
        fn(batch.orderBy(ts_col, *tiebreak_cols), batch_id)

    return df.writeStream.foreachBatch(_deliver)


def streaming_kslack(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    arrival_col: str,
    value_cols: Sequence[str] = (),
    emit_col: str = "emit_seq",
) -> DataFrame:
    """KSlack_Collector, STREAMING form (PROBABILISTIC mode, reference
    wf/kslack_collector.hpp:97-147 insert/extract + svc:183-207 drop
    check): per key, buffer out-of-order tuples, learn the slack K from
    observed lateness, release tuples at or behind ``tcurr − K`` in
    timestamp order, and drop tuples behind the emitted horizon.

    The batch sibling (operators/kslack.kslack_reorder) replays a finite
    arrival sequence; this form runs the SAME algorithm incrementally via
    the keyed-state driver — tcurr, K, the emitted horizon, the
    since-last-advance lateness vector, and the pending buffer all live in
    per-key streaming state, so the reorder continues seamlessly across
    micro-batches (equivalence with the batch replay on the same arrival
    sequence is pinned in tests, including a multi-batch split).

    Contract: ``ts_col`` and ``arrival_col`` are LONG columns (the
    reference's integer-µs time model; arrival = per-key arrival sequence
    — within a micro-batch rows are processed in ``arrival_col`` order).
    ``value_cols`` ride through the buffer (primitive types). Output =
    key_cols + ts + arrival + value_cols + ``emit_col`` (per-key emission
    number, continuous across batches). Tuples still buffered when the
    stream ends are NOT flushed (the reference flushes on EOS; with
    availableNow replay, drain with TWO successive increasing max-ts
    punctuations per key, the cb_eos_punctuations technique — one is not
    always enough: processing punct₁ also grows K by punct₁'s own huge
    delay-to-min-recent-ts, so the release limit only reaches
    min(recent ts); punct₂ > punct₁ then lifts the limit past every real
    timestamp and releases the rest).
    """
    key_list = list(key_cols)
    val_list = list(value_cols)
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = ", ".join(
        [f"{c} {types[c]}" for c in key_list + [ts_col, arrival_col] + val_list]
        + [f"{emit_col} long"]
    )
    state_schema = ", ".join(
        ["tcurr long, k long, last_ts long, emitted long",
         "ts_vect array<long>, buf_ts array<long>, buf_arr array<long>"]
        + [f"buf_{c} array<{types[c]}>" for c in val_list]
    )

    def step(key, st, rows, eos):
        tcurr, k, last_ts, emitted, ts_vect, b_ts, b_arr, *b_vals = st
        ts_vect = list(ts_vect)
        buf = [
            (b_ts[i], b_arr[i], [bv[i] for bv in b_vals]) for i in range(len(b_ts))
        ]
        released: list[list] = []

        def extract() -> None:
            nonlocal last_ts
            limit = tcurr - k
            i = 0
            while i < len(buf) and buf[i][0] <= limit:
                ts, arr, vals = buf[i]
                if ts >= last_ts:  # behind the horizon → drop (svc:195-200)
                    released.append([ts, arr, vals])
                    last_ts = ts
                i += 1
            del buf[:i]

        for row in rows.to_dict("records"):
            ts = int(row[ts_col])
            ts_vect.append(ts)
            entry = (ts, int(row[arrival_col]), [row[c] for c in val_list])
            bisect.insort(buf, entry, key=lambda e: (e[0], e[1]))
            if ts > tcurr:
                tcurr = ts
                k = max(k, max(tcurr - t for t in ts_vect))
                ts_vect.clear()
                extract()
        out = [
            list(key) + [ts, arr] + vals + [emitted + i]
            for i, (ts, arr, vals) in enumerate(released)
        ]
        return out, (
            tcurr, k, last_ts, emitted + len(released), ts_vect,
            [e[0] for e in buf], [e[1] for e in buf],
            *[[e[2][j] for e in buf] for j in range(len(val_list))],
        )

    init = (0, 0, 0, 0, [], [], []) + tuple([] for _ in val_list)
    return keyed_fold(
        df, key_list, step, out_schema, state_schema, init, order=[arrival_col]
    )


def streaming_rolling_zscore(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    bucket_us: int = 3_600_000_000,
    lookback: int = 24,
    min_periods: int = 12,
    eos_col: str | None = None,
) -> DataFrame:
    """Trailing-window z-score anomaly signal, STREAMING form — the
    incremental sibling of operators.timeseries.rolling_zscore. Per key,
    GroupState holds the open bucket's running count plus the trailing
    ``lookback`` completed bucket counts (fixed-size state per key,
    independent of history length — the same bound the batch RANGE frame
    gives). A bucket is scored and emitted the moment a later bucket's
    first row arrives; the EOS punctuation (``eos_col``, the
    cb_eos_punctuations technique) flushes the final open bucket.

    Contract: ``ts_col`` is a LONG µs column and rows arrive per-key in
    non-decreasing ts order (the reference's in-order event-time model;
    late rows for already-scored buckets are dropped, matching the
    late-tuple drop of wf/window_replica.hpp:256-264). Scores match the
    batch form: mean/stddev_samp over the completed buckets in
    [b−lookback, b−1], NULL below ``min_periods`` trailing observations or
    at zero variance, ROUND_HALF_UP to 2dp.

    Output: key_cols + bucket_start (long µs) + cnt + zscore.
    """
    import math

    key_list = list(key_cols)
    out_schema = (
        ", ".join(f"{k} long" for k in key_list)
        + ", bucket_start long, cnt long, zscore double"
    )
    state_schema = "cur_b long, cur_c long, hist_b array<long>, hist_c array<long>"

    def _score(b: int, c: int, hist: list[tuple[int, int]]):
        win = [ci for bi, ci in hist if b - lookback <= bi <= b - 1]
        n = len(win)
        if n < min_periods or n < 2:
            return None
        mean = sum(win) / n
        var = sum((x - mean) ** 2 for x in win) / (n - 1)
        if var <= 0:
            return None
        z = (c - mean) / math.sqrt(var)
        return math.copysign(math.floor(abs(z) * 100 + 0.5) / 100, z)

    def step(key, st, rows, eos):
        cur_b, cur_c, hist_b, hist_c = st
        hist = list(zip(hist_b, hist_c))
        out: list[tuple] = []

        def close_current(b_next: int | None) -> None:
            nonlocal cur_b, cur_c, hist
            if cur_b < 0:
                return
            out.append(key + (cur_b * bucket_us, cur_c, _score(cur_b, cur_c, hist)))
            hist.append((cur_b, cur_c))
            floor_b = (b_next if b_next is not None else cur_b + 1) - lookback
            hist = [(bi, ci) for bi, ci in hist if bi >= floor_b]
            cur_b, cur_c = -1, 0

        ts = rows[ts_col].to_numpy(dtype=np.int64)
        ub, uc = np.unique(ts // bucket_us, return_counts=True)
        for b, c in zip(ub.tolist(), uc.tolist()):
            if b == cur_b:
                cur_c += c
            elif b > cur_b:
                close_current(b)
                cur_b, cur_c = b, c
            # b < cur_b: late row for a scored bucket — dropped
        if eos:
            close_current(None)
        return out, (cur_b, cur_c, [b for b, _ in hist], [c for _, c in hist])

    return keyed_fold(
        df, key_list, step, out_schema, state_schema, (-1, 0, [], []),
        order=[ts_col], eos_col=eos_col,
    )


def streaming_segment_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_tokens: int = 8,
) -> DataFrame:
    """Segment-level exact dedup, STREAMING form — the incremental sibling
    of functions.dedup.dedup_segments: documents are cut into
    ``seg_tokens``-token segments in-stream; per segment HASH, GroupState
    remembers whether the segment was ever emitted, so the first arrival
    corpus-wide wins and every later occurrence (same or later
    micro-batch) is dropped. Within a micro-batch the winner is the min
    (doc_id, seg_idx), so with documents arriving in id order the kept
    set equals the batch form's survivor set exactly.

    Output: one row per SURVIVING segment (id, seg_idx, seg) in append
    mode. A document's segments never split across micro-batches (the
    explode is per input row), so per-document reassembly is a plain
    groupBy inside foreachBatch downstream — no second stateful stage.

    State per segment hash is one boolean — the minimal streaming dedup
    footprint; at corpus scale bound it with a state-TTL or a
    watermark-scoped variant, same note as streaming_exact_dedup.
    """
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != F.lit(""))
    d = df.select(F.col(id_col), toks.alias("_toks")).filter(F.size("_toks") >= 1)
    segs = d.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0), F.floor((F.size("_toks") - 1) / F.lit(seg_tokens))
                ),
                lambda i: F.array_join(
                    F.slice("_toks", i * seg_tokens + 1, seg_tokens), " "
                ),
            )
        ).alias("seg_idx", "seg"),
    ).withColumn("_h", F.md5("seg"))

    out_schema = f"{id_col} long, seg_idx long, seg string"
    state_schema = "emitted boolean"

    def step(key, st, rows, eos):
        if st[0] or not len(rows):
            return [], st
        first = rows.iloc[0]  # the batch's min (doc_id, seg_idx) wins
        return [(first[id_col], first["seg_idx"], first["seg"])], (True,)

    return keyed_fold(
        segs, ["_h"], step, out_schema, state_schema, (False,),
        order=[id_col, "seg_idx"],
    )


def streaming_heavy_hitters(
    df: DataFrame,
    col: str = "token",
    capacity: int = 32,
    n_buckets: int = 16,
    eos_col: str | None = None,
) -> DataFrame:
    """Streaming Misra–Gries frequent items — the incremental sibling of
    functions.pipeline.misra_gries_summary. Items hash into ``n_buckets``
    disjoint state groups; each group's GroupState holds ONE
    ``capacity``-counter summary updated per micro-batch (same mergeable
    prune: on overflow subtract the (capacity+1)-th largest count, drop
    non-positive). The EOS punctuation (``eos_col``; rows flagged True are
    replicated to every bucket so the flush reaches all state groups)
    emits each bucket's final (item, est) rows and clears its state.

    Bounds are TIGHTER than the batch merge: buckets partition the item
    space, so each item's estimate comes from one summary over exactly its
    bucket's substream — for every item,
    true − N_bucket/(capacity+1) ≤ est ≤ true, and any item with
    true > N_bucket/capacity is present. State is n_buckets × capacity
    counters TOTAL, independent of stream length — the 100 TB/unbounded
    path for "top hosts / top tokens" over a stream.
    """
    is_eos = (
        F.coalesce(F.col(eos_col), F.lit(False)) if eos_col else F.lit(False)
    )
    bkts = F.when(
        is_eos, F.sequence(F.lit(0), F.lit(n_buckets - 1))
    ).otherwise(F.array(F.pmod(F.xxhash64(F.col(col)), F.lit(n_buckets))))
    d = df.select(
        F.col(col), is_eos.alias("_eos"), F.explode(bkts).alias("_bkt")
    )

    out_schema = f"{col} string, est long"
    state_schema = "toks array<string>, cnts array<long>"

    def step(key, st, rows, eos):
        acc = dict(zip(*st))
        for t, c in rows[col].value_counts().items():
            acc[t] = acc.get(t, 0) + int(c)
        if len(acc) > capacity:
            sub = sorted(acc.values(), reverse=True)[capacity]
            acc = {t: v - sub for t, v in acc.items() if v - sub > 0}
        out = list(acc.items()) if eos else []
        return out, (list(acc.keys()), list(acc.values()))

    return keyed_fold(
        d, ["_bkt"], step, out_schema, state_schema, ([], []), eos_col="_eos"
    )


def streaming_cms(
    df: DataFrame,
    col: str = "token",
    depth: int = 3,
    width: int = 256,
    eos_col: str | None = None,
) -> DataFrame:
    """Streaming Count-Min Sketch — the incremental sibling of
    functions.pipeline.cms_token_estimates. Every item is replicated to
    the ``depth`` hash rows (that IS the CMS update rule: each row counts
    every item at its row-specific md5 index); each row's GroupState
    holds one width-sized integer counter array updated per micro-batch.
    The EOS punctuation emits each row's nonzero (r, idx, counter) cells
    and removes the state.

    State is depth x width longs TOTAL, independent of stream length —
    and because counter updates are commutative integer adds, the flushed
    sketch equals the batch-built sketch EXACTLY (same md5 indexing), not
    just within an error bound; the parity test pins that equality.
    """
    is_eos = (
        F.coalesce(F.col(eos_col), F.lit(False)) if eos_col else F.lit(False)
    )

    def _idx(r: int) -> F.Column:
        h = F.md5(F.concat(F.lit(str(r)), F.lit("|"), F.col(col)))
        return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % width).cast(
            "long"
        )

    rows = F.array(
        *[
            F.struct(F.lit(r).cast("int").alias("r"), _idx(r).alias("idx"))
            for r in range(depth)
        ]
    )
    d = df.select(is_eos.alias("_eos"), F.explode(rows).alias("_h")).select(
        "_eos", F.col("_h.r").alias("r"), F.col("_h.idx").alias("idx")
    )

    out_schema = "r int, idx long, counter long"
    state_schema = "cnts array<long>"

    def step(key, st, rows, eos):
        cnts = list(st[0])
        for i, c in rows["idx"].value_counts().items():
            cnts[int(i)] += int(c)
        out = [(key[0], i, c) for i, c in enumerate(cnts) if c > 0] if eos else []
        return out, (cnts,)

    return keyed_fold(
        d, ["r"], step, out_schema, state_schema, ([0] * width,), eos_col="_eos"
    )


def streaming_funnel(
    df: DataFrame,
    stages: Sequence[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    us_col: str = "us",
) -> DataFrame:
    """Ordered funnel conversion, STREAMING form — the incremental sibling
    of operators.behavior.funnel_stages. Per user, GroupState holds the
    highest stage reached and its conversion time; each micro-batch's rows
    are processed in event-time order and a row converts the user to the
    next stage only if its type matches ``stages[next]`` and its time is
    STRICTLY after the previous conversion (first-touch semantics: the
    first qualifying event binds, identical to the batch min-chain —
    greedy-in-order and min-with-constraint pick the same events).

    Contract: per-key in-order event time across micro-batches (the
    engine's in-order model, as streaming_rolling_zscore). State per user
    is two scalars — bounded by the user population, not stream length.
    Output: one append row per conversion (user, stage_idx, stage,
    conv_us).
    """
    out_schema = f"{user_col} long, stage_idx long, stage string, conv_us long"
    state_schema = "reached long, t_last long"
    stage_list = list(stages)

    def step(key, st, rows, eos):
        reached, t_last = st
        out = []
        for ty, us in zip(rows[type_col], rows[us_col]):
            nxt = reached + 1
            if nxt >= len(stage_list):
                break
            if ty == stage_list[nxt] and (reached < 0 or us > t_last):
                reached, t_last = nxt, int(us)
                out.append((key[0], nxt, stage_list[nxt], int(us)))
        return out, (reached, t_last)

    return keyed_fold(
        df.select(user_col, type_col, us_col), [user_col], step,
        out_schema, state_schema, (-1, -1), order=[us_col],
    )


def streaming_cohort_retention(
    df: DataFrame,
    bucket_us: int,
    user_col: str = "user_id",
    us_col: str = "us",
) -> DataFrame:
    """Cohort retention, STREAMING form — the incremental sibling of
    operators.behavior.cohort_retention. Per user, GroupState holds the
    cohort bucket (first-activity period) and the set of offsets already
    emitted; each new (user, bucket) first-occurrence emits ONE
    (cohort_bucket, bucket_offset) increment row in append mode, so the
    live retention matrix is a plain downstream count per
    (cohort_bucket, bucket_offset) — e.g. inside foreachBatch — summing
    increments as they arrive.

    Contract: per-user rows arrive in non-decreasing event-time order
    across micro-batches (the engine's in-order model, as
    streaming_rolling_zscore); a row for a bucket BEFORE the user's known
    cohort would retro-change the cohort and is dropped as late. Rows
    inside one micro-batch may be unordered — buckets are processed
    sorted. State per user is the cohort + distinct active offsets
    (exactly the batch form's per-user distinct-bucket footprint; bound it
    with a retention horizon at corpus scale).
    """
    out_schema = "cohort_bucket long, bucket_offset long"
    state_schema = "cohort long, seen array<long>"

    def step(key, st, rows, eos):
        cohort, seen = st[0], set(st[1])
        out: list[tuple[int, int]] = []
        for b in sorted(set((rows[us_col] // bucket_us).astype("int64").tolist())):
            if cohort is None:
                cohort = int(b)
            off = int(b) - cohort
            if off >= 0 and off not in seen:
                seen.add(off)
                out.append((cohort, off))
        return out, (cohort if cohort is not None else -1, sorted(seen))

    return keyed_fold(df, [user_col], step, out_schema, state_schema, (None, []))


def streaming_trending_counts(
    df: DataFrame,
    key_col: str,
    bucket_us: int,
    us_col: str = "us",
    eos_col: str | None = None,
) -> DataFrame:
    """Trend detection, STREAMING form — the incremental sibling of
    operators.behavior.trending_counts. Per key, GroupState holds the open
    bucket's running count plus the last CLOSED bucket's (index, count);
    a bucket emits (bucket, cnt, prev_cnt, growth) the moment a later
    bucket's first row arrives, and the EOS punctuation flushes the final
    open bucket and clears the state. State per key is three longs —
    constant, independent of history (prev_cnt refers to the immediately
    preceding ACTIVE bucket, exactly the batch lag() semantics, which
    skips empty buckets).

    Contract: per-key non-decreasing event time across micro-batches (the
    in-order model of streaming_rolling_zscore); late rows for closed
    buckets are dropped. Growth matches the batch form: NULL for the
    key's first bucket, round(cnt/prev, 6) otherwise.
    """
    key_out = f"{key_col} string"
    out_schema = f"{key_out}, bucket long, cnt long, prev_cnt long, growth double"
    state_schema = "cur_b long, cur_c long, last_b long, last_c long"

    def step(key, st, rows, eos):
        cur_b, cur_c, last_b, last_c = st
        out: list[tuple] = []

        def close() -> None:
            nonlocal cur_b, cur_c, last_b, last_c
            if cur_b < 0:
                return
            prev = last_c if last_c >= 0 else None
            growth = _round_half_up(cur_c / prev) if prev and prev > 0 else None
            out.append(key + (cur_b * bucket_us, cur_c, prev, growth))
            last_b, last_c = cur_b, cur_c
            cur_b, cur_c = -1, 0

        for b, c in (rows[us_col] // bucket_us).value_counts().sort_index().items():
            b, c = int(b), int(c)
            if b == cur_b:
                cur_c += c
            elif b > cur_b:
                close()
                cur_b, cur_c = b, c
            # b < cur_b: late row for an emitted bucket — dropped
        if eos:
            close()
        return out, (cur_b, cur_c, last_b, last_c)

    return keyed_fold(
        df, [key_col], step, out_schema, state_schema, (-1, 0, -1, -1),
        eos_col=eos_col,
    )


def streaming_ewma(
    df: DataFrame,
    key_col: str,
    bucket_us: int,
    alpha: float = 0.25,
    us_col: str = "us",
    eos_col: str | None = None,
) -> DataFrame:
    """EWMA over bucketed counts, STREAMING form — the incremental sibling
    of operators.timeseries.ewma_smooth. Per key, GroupState holds the
    open bucket's (index, running count) and the last emitted smoothed
    value: a bucket emits (bucket, cnt, ewma) the moment a later bucket's
    first row arrives, and the EOS punctuation flushes the final open
    bucket and clears the state. State per key is two longs + one double —
    constant, independent of history, the textbook exponential-decay
    recurrence (the whole point of EWMA vs a trailing mean is that the
    state never grows).

    Contract: per-key non-decreasing event time across micro-batches (the
    in-order model of streaming_trending_counts); late rows for emitted
    buckets are dropped. ``y = x`` for the key's first bucket, then
    ``y = alpha*x + (1-alpha)*y_prev`` over OBSERVED buckets (gaps skip,
    matching the batch fold). Values match the batch form bit-for-bit:
    python floats are IEEE doubles running the identical sequence.
    """
    out_schema = f"{key_col} string, bucket long, cnt long, ewma double"
    state_schema = "cur_b long, cur_c long, prev_e double, has_prev boolean"
    a, b1 = float(alpha), 1.0 - float(alpha)

    def step(key, st, rows, eos):
        cur_b, cur_c, prev_e, has_prev = st
        out: list[tuple] = []

        def close() -> None:
            nonlocal cur_b, cur_c, prev_e, has_prev
            if cur_b < 0:
                return
            e = a * cur_c + b1 * prev_e if has_prev else float(cur_c)
            out.append(key + (cur_b * bucket_us, cur_c, _round_half_up(e)))
            prev_e, has_prev = e, True
            cur_b, cur_c = -1, 0

        for b, c in (rows[us_col] // bucket_us).value_counts().sort_index().items():
            b, c = int(b), int(c)
            if b == cur_b:
                cur_c += c
            elif b > cur_b:
                close()
                cur_b, cur_c = b, c
            # b < cur_b: late row for an emitted bucket — dropped
        if eos:
            close()
        return out, (cur_b, cur_c, prev_e, has_prev)

    return keyed_fold(
        df, [key_col], step, out_schema, state_schema, (-1, 0, 0.0, False),
        eos_col=eos_col,
    )


def streaming_holt(
    df: DataFrame,
    key_col: str,
    bucket_us: int,
    alpha: float = 0.5,
    beta: float = 0.25,
    us_col: str = "us",
    eos_col: str | None = None,
) -> DataFrame:
    """Holt level+trend smoothing over bucketed counts, STREAMING form —
    the incremental sibling of operators.timeseries.holt_smooth (the
    streaming_ewma pattern with a two-double recurrence). Per key,
    GroupState holds the open bucket's (index, running count) and the
    last (level, trend): a bucket emits (bucket, cnt, level, trend,
    forecast_next) when a later bucket's first row arrives; EOS flushes
    the final open bucket and removes the state. State per key is two
    longs + two doubles — constant, independent of history.

    Contract: per-key non-decreasing event time across micro-batches;
    late rows for emitted buckets are dropped. First bucket: level = x,
    trend = 0; then ``l = alpha*x + (1-alpha)*(l_prev + t_prev)`` and
    ``t = beta*(l - l_prev) + (1-beta)*t_prev`` over OBSERVED buckets
    (gaps skip, matching the batch fold). Python floats run the identical
    IEEE sequence as the JVM fold; emission rounds HALF_UP like Spark.
    """
    out_schema = (
        f"{key_col} string, bucket long, cnt long, level double, "
        "trend double, forecast_next double"
    )
    state_schema = (
        "cur_b long, cur_c long, prev_l double, prev_t double, "
        "has_prev boolean"
    )
    a, a1 = float(alpha), 1.0 - float(alpha)
    b, b1 = float(beta), 1.0 - float(beta)

    def step(key, st, rows, eos):
        cur_b, cur_c, prev_l, prev_t, has_prev = st
        out: list[tuple] = []

        def close() -> None:
            nonlocal cur_b, cur_c, prev_l, prev_t, has_prev
            if cur_b < 0:
                return
            if has_prev:
                new_l = a * cur_c + a1 * (prev_l + prev_t)
                new_t = b * (new_l - prev_l) + b1 * prev_t
            else:
                new_l, new_t = float(cur_c), 0.0
            out.append(
                key
                + (
                    cur_b * bucket_us,
                    cur_c,
                    _round_half_up(new_l),
                    _round_half_up(new_t),
                    _round_half_up(new_l + new_t),
                )
            )
            prev_l, prev_t, has_prev = new_l, new_t, True
            cur_b, cur_c = -1, 0

        for bk, c in (rows[us_col] // bucket_us).value_counts().sort_index().items():
            bk, c = int(bk), int(c)
            if bk == cur_b:
                cur_c += c
            elif bk > cur_b:
                close()
                cur_b, cur_c = bk, c
            # bk < cur_b: late row for an emitted bucket — dropped
        if eos:
            close()
        return out, (cur_b, cur_c, prev_l, prev_t, has_prev)

    return keyed_fold(
        df, [key_col], step, out_schema, state_schema, (-1, 0, 0.0, 0.0, False),
        eos_col=eos_col,
    )


def streaming_ohlc(
    df: DataFrame,
    key_col: str,
    value_col: str,
    bucket_us: int,
    us_col: str = "us",
    eos_col: str | None = None,
) -> DataFrame:
    """OHLC resample, STREAMING form — the incremental sibling of
    operators.timeseries.resample_ohlc. Per key, GroupState holds ONE open
    bar: the lexicographic-min/max (us, value) tuples for open/close (the
    exact tie-break contract of the batch struct-min/max — min value at
    the earliest timestamp, max value at the latest) plus high/low/count.
    A bar emits when a later bucket's first row arrives; the EOS
    punctuation flushes the final open bar and clears the state. State per
    key is one bar — constant, independent of history.

    Contract: per-key non-decreasing event time across micro-batches (the
    in-order model of streaming_trending_counts); late rows for emitted
    bars are dropped.
    """
    out_schema = (
        f"{key_col} string, bucket long, open double, high double, "
        "low double, close double, cnt long"
    )
    state_schema = (
        "bkt long, o_us long, o_v double, hi double, lo double, "
        "c_us long, c_v double, cnt long"
    )

    def step(key, st, rows, eos):
        bkt, o_us, o_v, hi, lo, c_us, c_v, cnt = st
        out: list[tuple] = []

        def close() -> None:
            nonlocal bkt, cnt
            if bkt < 0:
                return
            out.append(key + (bkt * bucket_us, o_v, hi, lo, c_v, cnt))
            bkt, cnt = -1, 0

        for us, v in zip(
            rows[us_col].to_numpy(dtype="int64"),
            rows[value_col].to_numpy(dtype="float64"),
        ):
            us, v, b = int(us), float(v), int(us) // bucket_us
            if b < bkt:
                continue  # late row for an emitted bar — dropped
            if b != bkt:
                close()
                bkt = b
                o_us, o_v, hi, lo, c_us, c_v, cnt = us, v, v, v, us, v, 1
                continue
            cnt += 1
            if (us, v) < (o_us, o_v):
                o_us, o_v = us, v
            if (us, v) > (c_us, c_v):
                c_us, c_v = us, v
            hi, lo = max(hi, v), min(lo, v)
        if eos:
            close()
        return out, (bkt, o_us, o_v, hi, lo, c_us, c_v, cnt)

    return keyed_fold(
        df, [key_col], step, out_schema, state_schema,
        (-1, 0, 0.0, 0.0, 0.0, 0, 0.0, 0), order=[us_col], eos_col=eos_col,
    )


def streaming_scd2(
    df: DataFrame,
    key_col: str,
    attr_col: str,
    us_col: str = "us",
    eos_col: str | None = None,
) -> DataFrame:
    """SCD type-2 interval build, STREAMING form — the CDC sibling of
    operators.timeseries.scd2_intervals for a single tracked attribute.
    Per key, GroupState holds the OPEN version (attribute value, its
    NULL flag, valid_from, version counter): a change event (null-safe
    inequality, the batch contract) closes the open version — emitting it
    with ``valid_to`` = the change's timestamp and ``is_current`` false —
    and opens the next; the EOS punctuation emits the open version with
    NULL ``valid_to`` / ``is_current`` true and clears the state. State
    per key is one version — constant; this is exactly the reference's
    P_Reduce keyed-state shape (wf/persistent/p_reduce.hpp) applied to
    warehouse history.

    Contract: per-key non-decreasing event time across micro-batches;
    equal-timestamp ordering within a batch falls back to input order —
    feed a unique, monotone ``us_col`` per key for exact batch parity.
    """
    out_schema = (
        f"{key_col} string, {attr_col} string, valid_from long, "
        "valid_to long, version_seq long, is_current boolean"
    )
    state_schema = "attr string, attr_null boolean, vfrom long, ver long"

    def step(key, st, rows, eos):
        attr, attr_null, vfrom, ver = st
        has_open = ver > 0
        out: list[tuple] = []
        for us, a in zip(rows[us_col].to_numpy(dtype="int64"), rows[attr_col]):
            us = int(us)
            a = None if pd.isna(a) else str(a)
            a_null = a is None
            if has_open and a_null == attr_null and a == attr:
                continue  # unchanged: stays in the open version
            if has_open:
                out.append(key + (attr, vfrom, us, ver, False))
            attr, attr_null, vfrom, ver = a, a_null, us, ver + 1
            has_open = True
        if eos and has_open:
            out.append(key + (attr, vfrom, None, ver, True))
        return out, (attr, attr_null, vfrom, ver)

    return keyed_fold(
        df, [key_col], step, out_schema, state_schema, (None, True, -1, 0),
        order=[us_col], eos_col=eos_col,
    )


def streaming_transitions(
    df: DataFrame,
    key_col: str,
    type_col: str,
    us_col: str = "us",
    eos_col: str | None = None,
) -> DataFrame:
    """Event-sequence transition emitter, STREAMING form — the incremental
    feeder of markov_event_transitions. Per key, GroupState holds ONLY the
    last seen event type (plus its timestamp for ordering): each arriving
    event emits one (from_type, to_type) transition row and replaces the
    state — constant per-key state, transitions stream out as they
    happen, and a downstream streaming aggregation (or the batch query)
    turns them into the transition matrix. EOS clears the state (the last
    event has no successor — exactly the batch lead() semantics).

    Contract: per-key non-decreasing event time across micro-batches;
    within a batch rows sort by (us, type) so equal-timestamp ordering is
    deterministic."""
    out_schema = f"{key_col} string, from_type string, to_type string"
    state_schema = "last_ty string, last_us long"

    def step(key, st, rows, eos):
        last_ty, last_us = st
        out: list[tuple] = []
        for us, ty in zip(rows[us_col].to_numpy(dtype="int64"), rows[type_col]):
            us, ty = int(us), str(ty)
            if last_ty is not None:
                out.append(key + (last_ty, ty))
            last_ty, last_us = ty, us
        return out, (last_ty, last_us)

    return keyed_fold(
        df, [key_col], step, out_schema, state_schema, (None, -1),
        order=[us_col, type_col], eos_col=eos_col,
    )


def streaming_forward_fill(
    df: DataFrame,
    key_col: str,
    us_col: str,
    id_col: str,
    type_col: str,
    value_col: str,
    fill_type: str,
    eos_col: str | None = None,
) -> DataFrame:
    """Last-observation-carried-forward, STREAMING form — the incremental
    sibling of forward_fill_last_purchase's IGNORE NULLS window. Per key,
    GroupState holds ONLY the last observed marker value (one double +
    its timestamp): every arriving row emits itself stamped with the
    carried value, and a row whose ``type_col`` equals ``fill_type``
    updates the carry BEFORE emitting (the batch frame is
    ROWS ... AND CURRENT ROW — inclusive). Constant per-key state, exact
    parity with the batch window under the per-key ordering contract.

    Contract: per-key non-decreasing event time across micro-batches;
    within a batch rows sort by (us, id) so equal-timestamp ordering is
    deterministic (the batch window's tie-break). EOS clears the state.
    """
    out_schema = (
        f"{key_col} long, {id_col} long, {type_col} string, "
        "last_fill_value double"
    )
    state_schema = "last_val double, has_val boolean"

    def step(key, st, rows, eos):
        last_val, has_val = st
        out: list[tuple] = []
        for rid, ty, val in zip(
            rows[id_col].to_numpy(dtype="int64"),
            rows[type_col],
            rows[value_col].to_numpy(dtype="float64"),
        ):
            if str(ty) == fill_type:
                last_val, has_val = float(val), True
            out.append(key + (int(rid), str(ty), last_val if has_val else None))
        return out, (last_val, has_val)

    return keyed_fold(
        df, [key_col], step, out_schema, state_schema, (0.0, False),
        order=[us_col, id_col], eos_col=eos_col,
    )


def streaming_weighted_sample(
    df: DataFrame,
    key_col: str,
    id_col: str,
    weight_col: str,
    arrival_col: str,
    k: int = 5,
    eos_col: str | None = None,
) -> DataFrame:
    """Streaming weighted reservoir (Efraimidis–Spirakis): per key, keep
    the ``k`` rows with the smallest ``arrival_col`` (= -ln(u)/w computed
    UPSTREAM as a JVM column expression so batch and streaming fold the
    exact same doubles), emit the ranked sample on EOS punctuation.

    The batch sibling is queries.sample_weighted_aes. A-ES is the
    mergeable-reservoir algorithm: the per-key state is exactly the k
    best (arrival, id, weight) triples — CONSTANT state independent of
    stream length, order-insensitive (any interleaving or lateness yields
    the same sample, no watermark needed), and the EOS flush removes the
    state entry. Reference sink-punctuation contract:
    wf/basic.hpp EOS semantics; sampling itself is a Spark-first
    extension (the training-mix primitive).
    """
    out_schema = (
        f"{key_col} string, {id_col} long, {weight_col} long, rk long"
    )
    state_schema = "arr array<double>, ids array<long>, ws array<long>"

    def step(key, st, rows, eos):
        best = list(zip(*st))
        best.extend(
            (float(a), int(i), int(w))
            for a, i, w in zip(
                rows[arrival_col].tolist(), rows[id_col].tolist(), rows[weight_col].tolist()
            )
        )
        # k smallest by (arrival, id) — the batch window's exact ordering
        best.sort(key=lambda t: (t[0], t[1]))
        best = best[:k]
        out = [(key[0], i, w, rk + 1) for rk, (_, i, w) in enumerate(best)] if eos else []
        return out, ([a for a, _, _ in best], [i for _, i, _ in best], [w for _, _, w in best])

    return keyed_fold(
        df, [key_col], step, out_schema, state_schema, ([], [], []), eos_col=eos_col
    )


def streaming_alert_hysteresis(
    df: DataFrame,
    key_col: str,
    bucket_us: int,
    hi: float,
    lo: float,
    us_col: str = "us",
    eos_col: str | None = None,
) -> DataFrame:
    """Two-threshold alert latch, STREAMING form — the incremental sibling
    of the `alert_hysteresis_daily` registry query's closed-form LOCF
    rewrite. Per key, GroupState holds the open bucket's running count and
    the latched alert state (three longs — constant, independent of
    history). A bucket closes when a later bucket's first row arrives (or
    at EOS): its count is compared against the FIXED thresholds — latch ON
    above `hi`, release below `lo`, otherwise carry the previous state —
    and the row (bucket, cnt, alert, is_start) is emitted immediately, so
    an alert fires with one-bucket latency instead of at job end. The
    batch form derives hi/lo from the corpus mean (unknowable mid-stream);
    here they are explicit config, and the parity test feeds the
    batch-derived values back in.

    Contract: per-key non-decreasing event time across micro-batches (the
    streaming_trending_counts in-order model); late rows for closed
    buckets are dropped. Only ACTIVE buckets exist — empty buckets emit
    nothing and do not advance the latch, exactly the batch semantics
    (the daily summary has no rows for empty days)."""
    out_schema = (
        f"{key_col} string, bucket long, cnt long, alert boolean, "
        "is_start boolean"
    )
    state_schema = "cur_b long, cur_c long, prev long"

    def step(key, st, rows, eos):
        cur_b, cur_c, prev = st  # prev -1 = no emitted bucket yet
        out: list[tuple] = []

        def close() -> None:
            nonlocal cur_b, cur_c, prev
            if cur_b < 0:
                return
            if cur_c > hi:
                alert = True
            elif cur_c < lo:
                alert = False
            else:
                alert = prev == 1
            out.append(key + (cur_b * bucket_us, cur_c, alert, alert and prev != 1))
            prev = 1 if alert else 0
            cur_b, cur_c = -1, 0

        for b, c in (rows[us_col] // bucket_us).value_counts().sort_index().items():
            b, c = int(b), int(c)
            if b == cur_b:
                cur_c += c
            elif b > cur_b:
                close()
                cur_b, cur_c = b, c
            # b < cur_b: late row for an emitted bucket — dropped
        if eos:
            close()
        return out, (cur_b, cur_c, prev)

    return keyed_fold(
        df, [key_col], step, out_schema, state_schema, (-1, 0, -1), eos_col=eos_col
    )


def streaming_debounce(
    df: DataFrame,
    key_cols: Sequence[str],
    gap_us: int,
    us_col: str = "us",
    eos_col: str | None = None,
) -> DataFrame:
    """Telemetry debounce, STREAMING form — the incremental sibling of the
    `debounce_events_5s` registry query: per key, an event is emitted iff
    it arrives ≥ gap_us after the previous RAW event of that key (burst
    openers survive, the rest of the burst is suppressed at the source —
    the cheapest place to kill a retry storm). GroupState is ONE long
    (the last raw event time); EOS removes it. Emitted rows are
    (key..., us); batch parity = the island-opening flags of the batch
    lag() form.

    Contract: per-key non-decreasing event time across micro-batches (the
    streaming_trending_counts in-order model)."""
    key_schema = ", ".join(f"{k} string" for k in key_cols)
    out_schema = f"{key_schema}, us long"
    state_schema = "last_us long"

    def step(key, st, rows, eos):
        last = None if st[0] < 0 else st[0]  # -1 sentinel = no raw event seen yet
        out: list[tuple] = []
        for u in rows[us_col].tolist():
            u = int(u)
            if last is None or u - last > gap_us:
                out.append(key + (u,))
            last = u
        return out, (last if last is not None else -1,)

    return keyed_fold(
        df, list(key_cols), step, out_schema, state_schema, (-1,),
        order=[us_col], eos_col=eos_col,
    )


_ASOF_EMPTY = ([], [], [], [], [], False, False)


def _asof_buffer(st, rows: pd.DataFrame):
    """Append one micro-batch of side-tagged as-of rows to the key's
    buffers; a side's ``eos`` row marks that side done. Returns
    ``((a_ids, a_us, b_ids, b_us, b_vals), a_done, b_done)``."""
    *bufs, a_done, b_done = st
    a_ids, a_uss, b_ids, b_uss, b_vals = (list(x) for x in bufs)
    flags = rows["eos"].fillna(False).to_numpy(dtype=bool)
    is_a = rows["side"].to_numpy() == 0
    a_done = a_done or bool((flags & is_a).any())
    b_done = b_done or bool((flags & ~is_a).any())
    a, b = rows[~flags & is_a], rows[~flags & ~is_a]
    a_ids += a["id"].astype("int64").tolist()
    a_uss += a["us"].astype("int64").tolist()
    b_ids += b["id"].astype("int64").tolist()
    b_uss += b["us"].astype("int64").tolist()
    b_vals += b["val"].astype("float64").tolist()
    return (a_ids, a_uss, b_ids, b_uss, b_vals), a_done, b_done


_ASOF_OUT = "k long, a_id long, a_us long, b_id long, b_val double"
_ASOF_STATE = (
    "a_ids array<long>, a_us array<long>, b_ids array<long>, "
    "b_us array<long>, b_vals array<double>, a_done boolean, b_done boolean"
)


def _asof_side(df, key_col, us_col, id_col, side, val_col, eos_col) -> DataFrame:
    """One as-of input in the side-tagged layout ``_asof_buffer`` reads."""
    val = F.col(val_col).cast("double") if val_col else F.lit(None).cast("double")
    return df.select(
        F.col(key_col).alias("k"),
        F.col(us_col).cast("long").alias("us"),
        F.lit(side).alias("side"),
        F.col(id_col).cast("long").alias("id"),
        val.alias("val"),
        F.col(eos_col).cast("boolean").alias("eos"),
    )


def _asof_match(key, a_rows, b_ids, b_uss, b_vals, lookback_us=None) -> list:
    """Match each (a_id, a_us) with the key's latest b row at or before it
    (and within ``lookback_us`` when given); unmatched rows get null b
    columns. b is sorted once by (us, id, val) so "last at-or-before" lands
    on the greatest payload among equal timestamps — the batch form's struct
    tie-break."""
    order = sorted(range(len(b_ids)), key=lambda i: (b_uss[i], b_ids[i], b_vals[i]))
    s_us = [b_uss[i] for i in order]
    out = []
    for aid, aus in a_rows:
        j = bisect.bisect_right(s_us, aus) - 1
        if j >= 0 and (lookback_us is None or s_us[j] >= aus - lookback_us):
            i = order[j]
            out.append((key[0], aid, aus, b_ids[i], b_vals[i]))
        else:
            out.append((key[0], aid, aus, None, None))
    return out


def streaming_asof_join_backward(
    a: DataFrame,
    b: DataFrame,
    key_col: str,
    a_us_col: str,
    b_us_col: str,
    a_id_col: str,
    b_id_col: str,
    b_val_col: str,
    eos_col: str = "eos",
) -> DataFrame:
    """Streaming as-of join (backward), EOS-flush exact form — the
    incremental sibling of operators.asof_join.asof_join_backward: each
    ``a`` row is matched with the same key's LATEST ``b`` row at or before
    its timestamp; equal-``b_us`` ties resolve to the greatest (id, val)
    payload, identical to the batch struct tie-break.

    Both inputs carry an ``eos`` boolean (one far-future punctuation row
    per key per side — cb_eos_punctuations' discipline); the sides are
    tagged, unioned, and buffered per key in GroupState across
    micro-batches, and the join is computed ONCE per key when BOTH sides'
    EOS have arrived (then state is removed). Buffering the full per-key
    history is the EOS-flush contract shared with the CB windows/KSlack
    siblings — exact on bounded replays regardless of how rows split
    across micro-batches or interleave between sides. For unbounded
    streams use a FINITE-LOOKBACK as-of instead: streaming_interval_join
    with [−lookback, 0] plus a max_by per a-row — that form has
    watermark-bounded state; the unbounded-lookback exact form
    fundamentally requires full history (the reference's archives never
    purge without a watermark either, wf/interval_join.hpp:109-117).

    Output (append, on flush): key, a_id, a_us, b_id, b_val — unmatched
    a rows keep null b columns, like how='left' in the batch form.
    """
    u = _asof_side(a, key_col, a_us_col, a_id_col, 0, None, eos_col).unionByName(
        _asof_side(b, key_col, b_us_col, b_id_col, 1, b_val_col, eos_col)
    )

    def step(key, st, rows, eos):
        (a_ids, a_uss, b_ids, b_uss, b_vals), a_done, b_done = _asof_buffer(st, rows)
        if not (a_done and b_done):
            return [], (a_ids, a_uss, b_ids, b_uss, b_vals, a_done, b_done)
        return _asof_match(key, zip(a_ids, a_uss), b_ids, b_uss, b_vals), None

    return keyed_fold(u, ["k"], step, _ASOF_OUT, _ASOF_STATE, _ASOF_EMPTY)


def streaming_asof_join_backward_bounded(
    a: DataFrame,
    b: DataFrame,
    key_col: str,
    a_us_col: str,
    b_us_col: str,
    a_id_col: str,
    b_id_col: str,
    b_val_col: str,
    lookback_us: int,
    watermark_us: int = 0,
    eos_col: str = "eos",
) -> DataFrame:
    """Streaming as-of join (backward) with a FINITE LOOKBACK and
    watermark-BOUNDED state — the corpus-scale form the EOS-flush exact
    sibling's docstring prescribes: each ``a`` row matches the same key's
    latest ``b`` row in ``[a_us − lookback_us, a_us]`` (equal-``b_us``
    ties resolve to the greatest (id, val) payload, the batch struct
    tie-break); older quotes are treated as expired, exactly the
    reference's watermark-purged archive (wf/interval_join.hpp:109-117,
    purges entries below the incoming watermark minus the window bound).

    Mechanics: each side is watermarked BEFORE the union (Spark's
    multipleWatermarkPolicy=min then gives the stateful operator the MIN
    of the two sides' watermarks — the Watermark_Collector min-merge,
    wf/basic_emitter.hpp), sides are tagged and unioned, and a per-key
    GroupState fold finalizes every ``a`` row once the watermark passes
    its timestamp (all matchable ``b`` rows are then guaranteed present)
    and prunes every ``b`` row older than ``watermark − lookback_us``
    (no live or future ``a`` row can reach it). State is therefore
    O(rows in the lookback + watermark-delay horizon) per key at ANY
    stream length — unlike the EOS-flush form's full per-key history.
    An optional EOS punctuation row per key per side flushes the
    remaining pending ``a`` rows at end-of-stream (bounded replays /
    drain), since the final watermark lags one batch.

    Output (append): k, a_id, a_us, b_id, b_val — unmatched ``a`` rows
    (no ``b`` in the lookback window) keep null b columns, like
    how='left' in the batch form restricted to in-lookback matches.
    """

    def _side(df, us_col, id_col, side, val_col=None):
        sel = _asof_side(df, key_col, us_col, id_col, side, val_col, eos_col)
        # per-side watermark BEFORE the union → operator watermark is the
        # min across sides, so a lagging side holds finalization back
        return sel.withColumn("_ts", F.timestamp_micros("us")).withWatermark(
            "_ts", f"{max(watermark_us, 0)} microsecond"
        )

    # the watermark-annotated _ts column must REACH the stateful operator
    # (dropping it un-sets the watermark for the keyed-state fold)
    u = _side(a, a_us_col, a_id_col, 0).unionByName(
        _side(b, b_us_col, b_id_col, 1, b_val_col)
    )

    def step(key, st, rows, eos, wm_us):
        (a_ids, a_uss, b_ids, b_uss, b_vals), a_done, b_done = _asof_buffer(st, rows)
        flush_all = a_done and b_done
        # finalize: a rows strictly below the watermark (all their b
        # candidates have arrived), or everything on EOS drain
        ready = [i for i, aus in enumerate(a_uss) if flush_all or aus < wm_us]
        out = []
        if ready:
            finals = [(a_ids[i], a_uss[i]) for i in ready]
            out = _asof_match(key, finals, b_ids, b_uss, b_vals, lookback_us)
        if flush_all:
            return out, None
        ready_set = set(ready)
        keep_a = [i for i in range(len(a_ids)) if i not in ready_set]
        # prune expired quotes: pending and future a rows sit at or above
        # the watermark, so nothing below wm − lookback matches
        keep_b = [i for i in range(len(b_ids)) if b_uss[i] >= wm_us - lookback_us]
        return out, (
            [a_ids[i] for i in keep_a],
            [a_uss[i] for i in keep_a],
            [b_ids[i] for i in keep_b],
            [b_uss[i] for i in keep_b],
            [b_vals[i] for i in keep_b],
            a_done,
            b_done,
        )

    return keyed_fold(
        u, ["k"], step, _ASOF_OUT, _ASOF_STATE, _ASOF_EMPTY, watermark=True
    )


def streaming_space_saving(
    df: DataFrame,
    key_col: str,
    item_col: str,
    us_col: str,
    k: int,
    eos_col: str = "eos",
) -> DataFrame:
    """Streaming heavy hitters per key via the SPACE-SAVING (Misra–Gries)
    sketch: at most ``k`` counters per key live in GroupState across
    micro-batches; a new item beyond capacity evicts the minimum-count
    counter (deterministic (count, item) victim order) and inherits its
    count as the error bound. The guarantee is the textbook one: any item
    with true frequency > n/k is present in the summary, and
    count_est − err_bound ≤ true ≤ count_est.

    Processing order is a pure function of the data: rows fold in
    (us, item) order within each micro-batch, and batches arrive in
    source order — the same discipline as streaming_kslack, so a batch
    replay of the same rows in the same order reproduces the summary
    EXACTLY (pinned by test). Flush: one far-future EOS punctuation row
    per key (cb_eos_punctuations' contract) emits the summary sorted by
    (-count, item) with ranks, then state is removed — bounded state
    (k counters per key) at any stream length, unlike the EOS-buffering
    joins. At 100 TB the same fold runs unchanged: state is O(keys · k).

    Output (append, on flush): key, item, count_est, err_bound, rank.
    Analog of the batch heavy_hitters_tokens / cms_heavy_tokens pair
    (exact CMS parity there; bounded-memory summary here).
    """
    sel = df.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(item_col).cast("string").alias("item"),
        F.col(us_col).cast("long").alias("us"),
        F.col(eos_col).cast("boolean").alias("eos"),
    )
    out_schema = "key string, item string, count_est long, err_bound long, rank long"
    state_schema = "items array<string>, counts array<long>, errs array<long>"
    cols = ["key", "item", "count_est", "err_bound", "rank"]

    def step(key, st, rows, eos):
        items, counts, errs = (list(x) for x in st)
        for item in rows["item"]:
            if item in items:
                counts[items.index(item)] += 1
            elif len(items) < k:
                items.append(item)
                counts.append(1)
                errs.append(0)
            else:
                v = min(range(len(items)), key=lambda i: (counts[i], items[i]))
                vc = counts[v]
                items[v], counts[v], errs[v] = item, vc + 1, vc
        if not eos:
            return [], (items, counts, errs)
        order = sorted(range(len(items)), key=lambda i: (-counts[i], items[i]))
        return [
            (key[0], items[i], counts[i], errs[i], r + 1) for r, i in enumerate(order)
        ], None

    return keyed_fold(
        sel, ["key"], step, out_schema, state_schema, ([], [], []),
        order=["us", "item"], eos_col="eos",
    )


def streaming_kmv_distinct(
    df: DataFrame,
    key_col: str,
    item_col: str,
    k: int = 64,
    eos_col: str = "eos",
) -> DataFrame:
    """Streaming KMV (k-minimum-values) distinct-count sketch per key —
    the incremental sibling of the batch `kmv_distinct_users` query and
    the third bounded-state streaming sketch beside space-saving and
    count-min. State per key is the SORTED array of the k smallest
    DISTINCT md5 hash values seen (≤ k BIGINTs — O(keys·k) at any stream
    length); the estimator on flush is the batch query's exact formula
    (k−1)·M / h_k with M = 16^15 (hashes uniform on [0, M)), or the
    exact kept count when fewer than k distinct values arrived.

    Unlike the order-disciplined folds (space-saving, kslack), KMV is a
    pure SET summary: "k smallest distinct hashes" is invariant to
    arrival order and micro-batch splits, so ANY replay — reordered,
    re-chunked, duplicated — produces the identical sketch (pinned by
    test). That also makes the sketch mergeable by plain array union +
    trim, the property the batch query exploits for cross-shard merges
    (reference analog: the mergeable window-result combiners,
    wf/win_mapreduce.hpp lift+combine discipline).

    Flush: one far-future EOS punctuation row per key emits
    (key, n_kept, h_k, kmv_est) and removes state.
    """
    import hashlib

    sel = df.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(item_col).cast("string").alias("item"),
        F.col(eos_col).cast("boolean").alias("eos"),
    )
    out_schema = "key string, n_kept long, h_k long, kmv_est double"
    state_schema = "hs array<long>"
    cols = ["key", "n_kept", "h_k", "kmv_est"]
    m_space = float(16**15)

    def step(key, st, rows, eos):
        hs = list(st[0])
        for item in rows["item"]:
            # 15 hex digits = 60 bits, the batch query's hash space
            hv = int(hashlib.md5(str(item).encode("utf-8")).hexdigest()[:15], 16)
            if len(hs) == k and hv >= hs[-1]:
                continue  # cannot enter the k smallest
            # hs is kept sorted: O(log k) membership + insert
            i = bisect.bisect_left(hs, hv)
            if i >= len(hs) or hs[i] != hv:
                hs.insert(i, hv)
                del hs[k:]
        if not eos:
            return [], (hs,)
        n_kept = len(hs)
        h_k = hs[-1] if hs else None
        est = float(n_kept) if n_kept < k else (k - 1) * m_space / float(h_k)
        return [(key[0], n_kept, h_k, est)], None

    return keyed_fold(sel, ["key"], step, out_schema, state_schema, ([],), eos_col="eos")


def streaming_page_hinkley(
    df: DataFrame,
    key_col: str,
    bucket_us: int,
    delta: float = 0.01,
    lam: float = 0.25,
    us_col: str = "us",
    value_col: str = "v",
    eos_col: str | None = None,
) -> DataFrame:
    """Page-Hinkley mean-drift monitor, STREAMING form — the online
    sibling of the batch `page_hinkley_drift_daily` registry query and
    the drift member of the sequential family (`ab_test_sequential_sprt`
    is its hypothesis-testing cousin; reference analog: the per-key
    incremental accumulator pattern of wf/keyed_windows.hpp fed by a
    punctuation-flushed bucket close). Per key, GroupState holds the
    open bucket's (index, sum, count) and the PH recursion's four
    scalars — t (closed buckets), Σz (for the running mean), PH_t, and
    min PH — CONSTANT state per key, the entire point of a sequential
    detector vs a windowed re-scan. A bucket emits the moment a later
    bucket's first row arrives (in-order contract of streaming_ewma;
    late rows for emitted buckets drop), carrying
    (bucket, z, ph, excursion, alert): z = bucket mean, PH_t += z − z̄_t
    − δ with z̄_t the running mean INCLUDING this bucket, excursion =
    PH_t − min_{i≤t} PH_i, alert = excursion > λ. The EOS punctuation
    flushes the final open bucket and clears state. Floats follow the
    identical IEEE sequence as the batch form's ordered-window sums, so
    a replay is bit-for-bit reproducible."""
    out_schema = (
        f"{key_col} string, bucket long, z double, ph double,"
        " excursion double, alert boolean"
    )
    state_schema = (
        "cur_b long, cur_s double, cur_c long,"
        " t long, cum_z double, ph double, min_ph double"
    )
    dlt, lm = float(delta), float(lam)

    def step(key, st, rows, eos):
        cur_b, cur_s, cur_c, t, cum_z, ph, min_ph = st
        out: list[tuple] = []

        def close() -> None:
            nonlocal cur_b, cur_s, cur_c, t, cum_z, ph, min_ph
            if cur_b < 0:
                return
            z = cur_s / cur_c
            t += 1
            cum_z += z
            ph += z - cum_z / t - dlt
            if t == 1 or ph < min_ph:
                min_ph = ph  # running min INCLUDES the current bucket
            exc = ph - min_ph
            out.append(key + (cur_b * bucket_us, z, ph, exc, exc > lm))
            cur_b, cur_s, cur_c = -1, 0.0, 0

        for us, v in zip(rows[us_col].to_numpy(), rows[value_col].to_numpy(dtype=float)):
            b = int(us) // bucket_us
            if b == cur_b:
                cur_s += v
                cur_c += 1
            elif b > cur_b:
                close()
                cur_b, cur_s, cur_c = b, v, 1
            # b < cur_b: late row for an emitted bucket — dropped
        if eos:
            close()
        return out, (cur_b, cur_s, cur_c, t, cum_z, ph, min_ph)

    return keyed_fold(
        df, [key_col], step, out_schema, state_schema,
        (-1, 0.0, 0, 0, 0.0, 0.0, 0.0), order=[us_col], eos_col=eos_col,
    )
