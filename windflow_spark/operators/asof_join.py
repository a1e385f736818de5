"""As-of join — match each left row with the LATEST right row at or before
its timestamp (per key).

Not in the reference (its only join is the interval join,
wf/interval_join.hpp; SURVEY.md §2.6 lists as-of among the missing types)
— added because every feature-store / market-data pipeline needs it.

Scale design: the naive formulation (range join + row_number to keep the
latest match) explodes to O(matches) intermediate rows. This implementation
is the union + forward-fill pattern: tag both inputs, union them, and for
each left row take the running `last(right payload, ignorenulls=True)` over
a per-key (ts, tag) sort — ONE shuffle + sort, intermediate size =
|A| + |B|, no row explosion regardless of how many right rows precede a
left row. The payload rides in a single STRUCT so the fill is atomic (a
per-column fill could stitch together different right rows when payload
fields are null). DuckDB's native ASOF JOIN is the oracle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def _asof_fill(
    a: DataFrame,
    b: DataFrame,
    key_cols: Sequence[str],
    a_ts: str,
    b_ts: str,
    b_payload: Sequence[str],
    how: str,
    prefix: str,
    forward: bool,
) -> DataFrame:
    """The union + fill shared by both directions. ``forward`` sets the
    window frame (following vs preceding), the ``_is_a`` sort direction,
    the null ordering of ``_bp`` and ``first`` vs ``last``."""
    if how not in ("left", "inner"):
        raise ValueError(f"how must be 'left' or 'inner', got {how!r}")
    keys = list(key_cols)
    payload = list(b_payload)
    a_payload_cols = [c for c in a.columns if c not in keys]
    b_struct_type = (
        b.select(F.struct(*payload).alias("_bp")).schema["_bp"].dataType.simpleString()
    )

    a_side = a.select(
        *[F.col(k) for k in keys],
        F.col(a_ts).alias("_ts"),
        F.lit(1).alias("_is_a"),
        *[F.col(c) for c in a_payload_cols],
        F.lit(None).cast(b_struct_type).alias("_bp"),
    )
    a_field_types = {f.name: f.dataType for f in a.schema.fields}
    b_side = b.select(
        *[F.col(k) for k in keys],
        F.col(b_ts).alias("_ts"),
        F.lit(0).alias("_is_a"),
        *[F.lit(None).cast(a_field_types[c]).alias(c) for c in a_payload_cols],
        F.struct(*payload).alias("_bp"),
    )
    if forward:
        # a rows (_is_a=1 sorts desc-first) precede b rows at equal ts so the
        # frame [current, following] includes same-ts b rows (inclusive);
        # among equal-ts b rows the least struct comes first and `first`
        # picks it
        order = [F.col("_is_a").desc(), F.col("_bp").asc_nulls_last()]
        frame = (W.currentRow, W.unboundedFollowing)
        fill = F.first("_bp", ignorenulls=True)
    else:
        # b rows (_is_a=0) sort before a rows at equal ts → "at or before"
        # is inclusive; among equal-ts b rows the greatest struct (field
        # order = payload order) comes last, so the running `last` picks it
        order = [F.col("_is_a"), F.col("_bp").asc_nulls_first()]
        frame = (W.unboundedPreceding, W.currentRow)
        fill = F.last("_bp", ignorenulls=True)
    w = W.partitionBy(*keys).orderBy(F.col("_ts"), *order).rowsBetween(*frame)
    filled = (
        a_side.unionByName(b_side)
        .withColumn("_bp", fill.over(w))
        .filter(F.col("_is_a") == 1)
    )
    if how == "inner":
        # Unmatched = the fill found no b-row, i.e. the STRUCT itself is
        # null. Testing a payload FIELD instead would drop a genuinely
        # matched b-row whose first payload value is NULL (ADVICE r1) — a
        # struct built from all-null fields is non-null.
        filled = filled.filter(F.col("_bp").isNotNull())
    return filled.select(
        *[F.col(k) for k in keys],
        *[F.col(c) for c in a_payload_cols],
        *[F.col(f"_bp.{c}").alias(f"{prefix}{c}") for c in payload],
    )


def asof_join_backward(
    a: DataFrame,
    b: DataFrame,
    key_cols: Sequence[str],
    a_ts: str,
    b_ts: str,
    b_payload: Sequence[str],
    how: str = "left",
    prefix: str = "b_",
) -> DataFrame:
    """For each row of ``a``: the ``b`` row of the same key with the largest
    ``b_ts`` <= ``a_ts`` (inclusive). ``b_payload`` columns arrive prefixed.
    ``how='left'`` keeps unmatched a-rows (null payload); ``'inner'`` drops
    them. Ties on ``b_ts`` resolve to the row greatest in ``b_payload``
    field order — put a unique column first for determinism. NOTE: which
    same-ts row an engine's native ASOF picks is implementation-defined
    (DuckDB guarantees no particular tie-break), so oracle-compared
    callers must dedupe ``b`` on (key, ts) first unless uniqueness is
    known.
    """
    return _asof_fill(
        a, b, key_cols, a_ts, b_ts, b_payload, how, prefix, forward=False
    )


def asof_join_forward(
    a: DataFrame,
    b: DataFrame,
    key_cols: Sequence[str],
    a_ts: str,
    b_ts: str,
    b_payload: Sequence[str],
    how: str = "left",
    prefix: str = "b_",
) -> DataFrame:
    """For each row of ``a``: the ``b`` row of the same key with the
    SMALLEST ``b_ts`` >= ``a_ts`` (inclusive) — the forward as-of
    (time-to-next-event / lead-lookup direction; DuckDB expresses it as
    ``ASOF JOIN ... ON b.ts >= a.ts``).

    Same union + fill scale shape as :func:`asof_join_backward` (ONE
    shuffle, |A|+|B| intermediate rows, no range-join explosion), mirrored:
    the running fill is ``first(payload, ignorenulls)`` over the FOLLOWING
    frame. At equal ts the a-row sorts before b-rows (inclusive match);
    among equal-``b_ts`` rows the LEAST payload struct wins (field order =
    payload order) — put a unique column first for determinism. NOTE:
    engines' native ASOF tie-breaks on equal ts are implementation-defined
    (DuckDB guarantees none), so oracle-compared callers must dedupe ``b``
    on (key, ts) first unless uniqueness is known.
    """
    return _asof_fill(
        a, b, key_cols, a_ts, b_ts, b_payload, how, prefix, forward=True
    )


def asof_join_nearest(
    a: DataFrame,
    b: DataFrame,
    key_cols: Sequence[str],
    a_ts: str,
    b_ts: str,
    b_payload: Sequence[str],
    tolerance: int | None = None,
    how: str = "left",
    prefix: str = "b_",
) -> DataFrame:
    """For each row of ``a``: the ``b`` row of the same key NEAREST in time
    (either direction, inclusive), optionally within ``tolerance`` —
    pandas merge_asof(direction='nearest') semantics, the third member of
    the backward/forward family. Equal-distance ties resolve to the
    EARLIER ``b`` row (the backward candidate). Timestamp columns must be
    numeric (e.g. epoch micros) so distances are exact integers; same-
    (key, ts) duplicates in ``b`` should be deduped first (each direction
    resolves them by payload-struct order, which differs between the two
    fills — the backward/forward docstring caveat squared).

    Scale shape: ONE backward fill + ONE forward fill (each the |A|+|B|
    union+window pass, no range-join explosion), then a per-row pick —
    O(|A|+|B|) total regardless of b-density around each a row, where the
    naive ±tolerance range join + rank explodes to O(matches).
    """
    if how not in ("left", "inner"):
        raise ValueError(f"how must be 'left' or 'inner', got {how!r}")
    keys = list(key_cols)
    payload = list(b_payload)
    pay_ts = [b_ts] + [c for c in payload if c != b_ts]
    bw = asof_join_backward(a, b, keys, a_ts, b_ts, pay_ts, "left", "_bw_")
    fw = asof_join_forward(bw, b, keys, a_ts, b_ts, pay_ts, "left", "_fw_")

    d_bw = F.col(a_ts) - F.col(f"_bw_{b_ts}")
    d_fw = F.col(f"_fw_{b_ts}") - F.col(a_ts)
    ok_bw = F.col(f"_bw_{b_ts}").isNotNull() & (
        F.lit(True) if tolerance is None else d_bw <= F.lit(tolerance)
    )
    ok_fw = F.col(f"_fw_{b_ts}").isNotNull() & (
        F.lit(True) if tolerance is None else d_fw <= F.lit(tolerance)
    )
    # ties (d_bw == d_fw, both in tolerance) take the backward (earlier) row
    use_bw = ok_bw & (~ok_fw | (d_bw <= d_fw))
    out = fw
    for c in payload:
        out = out.withColumn(
            f"{prefix}{c}",
            F.when(use_bw, F.col(f"_bw_{c}")).when(ok_fw, F.col(f"_fw_{c}")),
        )
    if how == "inner":
        # test the tolerance flags, not payload nullness — a matched b row
        # whose requested payload happens to be all-NULL must survive
        # (the asof_join_backward 'inner' lesson, ADVICE r1)
        out = out.filter(use_bw | ok_fw)
    out = out.drop(*[f"_bw_{c}" for c in pay_ts], *[f"_fw_{c}" for c in pay_ts])
    return out
