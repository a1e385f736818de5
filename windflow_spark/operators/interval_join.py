"""Interval (time-range) stream-stream join — the reference's only join
(Interval_Join, reference wf/interval_join.hpp:279-313, bounds
wf/builders.hpp:1480-1493).

Semantics: for a∈A, b∈B with equal keys, match when
``ts(b) ∈ [ts(a) + lower, ts(a) + upper]`` (bounds inclusive). Output
timestamp = max of the two sides (reference wf/interval_join.hpp:305-306).

Physical modes: the reference's KP (key-partitioned) maps to Spark's shuffle
hash/sort-merge join on the key; DP (data-partitioned broadcast,
wf/basic.hpp:87) maps to a broadcast join — pass ``broadcast_side`` when one
side is small. At 100 TB the equi-key condition keeps this a partitioned
equi-join with a residual range predicate (NOT a cross join); AQE handles
skewed keys.

Batch and streaming share this one implementation: the
``streaming_interval_join*`` forms in streaming/ops.py only put a watermark
on both inputs and call these functions, which pick the range predicate's
form from ``a.isStreaming`` (:func:`_time_band`).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from windflow_spark.operators.timeutil import event_micros


def _band_join(
    aa: DataFrame,
    bb: DataFrame,
    key_cols: Sequence[str],
    a_v: Column,
    b_v: Column,
    lower: Column,
    upper: Column,
    how: str,
    broadcast_side: str | None = None,
) -> DataFrame:
    """Key equality with the inclusive range residual ``b_v ∈ [a_v + lower,
    a_v + upper]`` — the one condition builder of the interval and band
    joins. ``broadcast_side`` ∈ {None, 'a', 'b'} selects the reference's DP
    mode (broadcast) vs KP mode (shuffle)."""
    if broadcast_side == "a":
        aa = F.broadcast(aa)
    elif broadcast_side == "b":
        bb = F.broadcast(bb)
    cond = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in key_cols]
    cond += [b_v >= a_v + lower, b_v <= a_v + upper]
    return aa.join(bb, reduce(and_, cond), how=how)


def _time_band(
    a: DataFrame, b: DataFrame, a_ts: str, b_ts: str, lower_us: int, upper_us: int
) -> tuple[Column, Column, Column, Column]:
    """(a value, b value, lower, upper) of the event-time range predicate."""
    if a.isStreaming:
        # Native ts + INTERVAL: the only form StreamingJoinHelper can invert
        # into per-side state watermarks (A kept while ts >= wm - upper, B
        # while ts >= wm + lower — the reference's watermark purge,
        # wf/interval_join.hpp:109-117,153-159). With unix_micros the state
        # grows without bound and outer joins fail analysis. On TIMESTAMP
        # (LTZ) the addition follows the session time zone: under
        # America/New_York, TIMESTAMP'2024-03-09 12:00:00' + INTERVAL
        # 86400000000 MICROSECOND lands 23 h later by unix_micros, where the
        # batch µs form (and the same addition on NTZ) lands 24 h later. So
        # in a non-UTC session, bounds of a day or more differ from batch
        # across a DST change; make_interval would be exact, but Spark
        # rejects it as a stream-stream outer-join range condition.
        # get_spark pins the session to UTC.
        lo, hi = (F.expr(f"INTERVAL {us} MICROSECOND") for us in (lower_us, upper_us))
        return F.col(f"a.{a_ts}"), F.col(f"b.{b_ts}"), lo, hi
    # batch: exact epoch-µs arithmetic, independent of the session time zone
    a_us = event_micros(a, a_ts, qualifier="a")
    return a_us, event_micros(b, b_ts, qualifier="b"), F.lit(lower_us), F.lit(upper_us)


def interval_join(
    a: DataFrame,
    b: DataFrame,
    key_cols: Sequence[str],
    a_ts: str,
    b_ts: str,
    lower_us: int,
    upper_us: int,
    broadcast_side: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Join a and b on equal keys and b.ts within [a.ts+lower, a.ts+upper].

    Columns from ``a`` keep their names; the caller should pre-alias/rename
    colliding columns. ``broadcast_side`` ∈ {None, 'a', 'b'} selects the
    reference's DP mode (broadcast) vs KP mode (shuffle).
    """
    band = _time_band(a, b, a_ts, b_ts, lower_us, upper_us)
    return _band_join(a.alias("a"), b.alias("b"), key_cols, *band, how, broadcast_side)


def interval_join_bucketed(
    a: DataFrame,
    b: DataFrame,
    key_cols: Sequence[str],
    a_ts: str,
    b_ts: str,
    lower_us: int,
    upper_us: int,
    bucket_us: int | None = None,
    how: str = "inner",
) -> DataFrame:
    """Interval join blocked by time bucket — the large-large scale path.

    Same semantics as :func:`interval_join` (reference
    wf/interval_join.hpp:279-295: match when ts(b) ∈ [ts(a)+lower,
    ts(a)+upper], bounds inclusive), but the join key is (key, bucket)
    instead of key alone. With a plain key equi-join, a low-cardinality key
    puts ALL of that key's rows on one task — at 100 TB that single task is
    the job. Here time is cut into buckets of width ``bucket_us`` (default
    upper−lower): each B row lands in exactly one bucket
    (floor(ts_b / W)), each A row is exploded to the buckets its match
    interval [ts_a+lower, ts_a+upper] covers (≤ 2 replicas when
    W ≥ upper−lower), and the equi-join runs on (key, bucket) with the
    exact range as a residual predicate. Every matching pair shares exactly
    one bucket (b's), so no duplicate pairs are produced and no post-join
    dedup is needed. Shuffle parallelism now scales with key × time rather
    than key cardinality. In streaming, Spark partitions join STATE by the
    equi-key, so the same layout spreads a hot key's retained rows over
    key × time state partitions; the retention bound itself is unchanged.

    Outer joins (``how`` ∈ {'inner', 'left', 'right'}): the replicated side
    flips so the OUTER-PRESERVED side lands in exactly ONE bucket — with
    the default (A replicated) a left join would null-emit each unmatched A
    row once per replica. For ``how='left'`` A takes floor(ts_a/W) and B is
    exploded to the buckets a matching A could occupy
    ([floor((ts_b−upper)/W), floor((ts_b−lower)/W)], ≤2 replicas); every
    matching pair then shares exactly a's bucket and each unmatched A row
    null-emits exactly once. ``how='right'`` is the mirror (A replicated —
    the inner layout — with a right join). The reference's join is
    inner-only (wf/interval_join.hpp:279-313); outer is the natural Spark
    completion for late-unmatched detection.

    Result exposes the same ``a``/``b`` aliases as :func:`interval_join`;
    the helper bucket columns are dropped.
    """
    if how not in ("inner", "left", "right"):
        raise ValueError(f"how must be inner|left|right, got {how!r}")
    span = upper_us - lower_us
    if span < 0:
        raise ValueError(f"upper_us < lower_us ({upper_us} < {lower_us})")
    width = int(bucket_us) if bucket_us else max(span, 1)
    if width <= 0:
        raise ValueError(f"bucket_us must be positive, got {bucket_us}")

    def bucket(us: Column) -> Column:
        return F.floor(us / F.lit(width))

    def buckets(lo: Column, hi: Column) -> Column:
        return F.explode(F.sequence(bucket(lo), bucket(hi)))

    a_us = event_micros(a, a_ts)
    b_us = event_micros(b, b_ts)
    if how == "left":
        a_bkt = bucket(a_us)
        b_bkt = buckets(b_us - F.lit(upper_us), b_us - F.lit(lower_us))
    else:
        a_bkt = buckets(a_us + F.lit(lower_us), a_us + F.lit(upper_us))
        b_bkt = bucket(b_us)
    aa = a.withColumn("__ij_bkt", a_bkt).alias("a")
    bb = b.withColumn("__ij_bkt", b_bkt).alias("b")
    band = _time_band(a, b, a_ts, b_ts, lower_us, upper_us)
    # the bucket is one more equi-key, after the user's keys
    joined = _band_join(aa, bb, [*key_cols, "__ij_bkt"], *band, how)
    return joined.drop(F.col("a.__ij_bkt")).drop(F.col("b.__ij_bkt"))


def interval_join_full_bucketed(
    a: DataFrame,
    b: DataFrame,
    key_cols: Sequence[str],
    a_ts: str,
    b_ts: str,
    lower_us: int,
    upper_us: int,
    bucket_us: int | None = None,
    a_prefix: str = "a_",
    b_prefix: str = "b_",
) -> DataFrame:
    """FULL-outer bucketed interval join (completes the §2.6 how-matrix;
    reference match semantics wf/interval_join.hpp:279-295, both sides
    preserved — the reference's join is inner-only, full-outer is the
    Spark-native completion, r7 VERDICT #4).

    A single bucketed join cannot be full-outer: whichever side is
    replicated across buckets would null-emit each of its unmatched rows
    once PER REPLICA. Decomposition instead: FULL = LEFT-layout left join
    (every matched pair exactly once, in a's bucket, plus unmatched-A)
    UNION ALL the unmatched-B rows of a RIGHT-layout right join (detected
    via a non-null marker column on the a side — the marker, not a payload
    column, so genuinely-null a payloads can't masquerade as unmatched).
    Each branch replicates only its NON-preserved side, so every unmatched
    row null-emits exactly once and every matched pair appears exactly
    once. Cost: the inputs are scanned/joined twice — the price of
    key×time state spread with both sides preserved. In streaming each
    branch is an independent stream-stream join with its own bounded
    state, so the union doubles the join state.

    Because both sides survive with nulls, the result is a FLAT schema
    (qualified a./b. access can't outlive the union): coalesced key
    columns under their original names, then a's non-key columns prefixed
    ``a_prefix``, then b's prefixed ``b_prefix``.
    """
    keys = list(key_cols)
    a_payload = [c for c in a.columns if c not in keys]
    b_payload = [c for c in b.columns if c not in keys]
    marker = "__ijf_a_present"

    def _flat(joined: DataFrame) -> DataFrame:
        return joined.select(
            *[
                F.coalesce(F.col(f"a.{k}"), F.col(f"b.{k}")).alias(k)
                for k in keys
            ],
            *[F.col(f"a.{c}").alias(f"{a_prefix}{c}") for c in a_payload],
            *[F.col(f"b.{c}").alias(f"{b_prefix}{c}") for c in b_payload],
        )

    matched_and_a = _flat(
        interval_join_bucketed(
            a, b, keys, a_ts, b_ts, lower_us, upper_us, bucket_us, how="left"
        )
    )
    right = interval_join_bucketed(
        a.withColumn(marker, F.lit(1)), b, keys, a_ts, b_ts,
        lower_us, upper_us, bucket_us, how="right",
    )
    unmatched_b = _flat(right.filter(F.col(f"a.{marker}").isNull()))
    return matched_and_a.unionByName(unmatched_b)


def band_join(
    a: DataFrame,
    b: DataFrame,
    key_cols: Sequence[str],
    a_val: str,
    b_val: str,
    lower: float,
    upper: float,
    broadcast_side: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Numeric band (range) join: b.val within [a.val+lower, a.val+upper]
    per key — the interval join generalized from event-time to any ordered
    column (the reference's join is time-only, wf/interval_join.hpp:279-295).

    Same physical shape as interval_join: equi-join on keys with a residual
    band predicate, so Catalyst plans a hash join (shuffle or broadcast via
    ``broadcast_side``), never a cartesian product."""
    aa, bb = a.alias("a"), b.alias("b")
    av, bv = F.col(f"a.{a_val}"), F.col(f"b.{b_val}")
    lo, hi = F.lit(lower), F.lit(upper)
    return _band_join(aa, bb, key_cols, av, bv, lo, hi, how, broadcast_side)
