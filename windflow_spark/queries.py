"""Query registry: one entry per implemented operator (SURVEY.md §2), each
with a DuckDB oracle SQL string for the driver's correctness gate.

Conventions for cross-engine hash-stability:
- Every computed column is aliased identically in Spark and SQL.
- Float aggregates are ROUND(x, 2) on both sides — sums/averages of doubles
  differ in the last bits across summation orders; rounding collapses them.
- Raw (untouched) double columns are emitted as-is: both engines read the
  same parquet bits.
- rank/row_number/size outputs are cast to long (DuckDB returns BIGINT).
- Ordering ties are always broken by a unique key column.
- All window arithmetic is integer µs (see operators/windows.py) — the SQL
  mirrors the same formulas with DuckDB's epoch_us/make_timestamp and `//`.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from windflow_spark.tables import load_table
from windflow_spark.operators.windows import (
    paned_window_tb,
    rollup_partials,
    sliding_window_cb,
    sliding_window_tb,
    tumbling_window_cb,
    tumbling_window_tb,
    window_spine_tb,
)
from windflow_spark.operators.reduce import rolling_reduce
from windflow_spark.operators.interval_join import interval_join
from windflow_spark.operators.routing import merge_pipes, split_by
from windflow_spark.util import maybe_broadcast

US_MIN = 60_000_000
US_15MIN = 900_000_000
US_30MIN = 1_800_000_000
US_HOUR = 3_600_000_000
US_2HOUR = 7_200_000_000
US_DAY = 86_400_000_000

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def register(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


def _t_wide(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table load with the parallelism floor for CPU-BOUND per-row work
    (regex, tokenizing, fingerprinting). The sf1 probe showed such stages
    running single-task on small-file/single-row-group parquet (chunking
    measured 42× superlinear at 10× data); ensure_min_partitions widens up
    to session parallelism — a no-op at real scale where the scan yields
    enough splits — and Catalyst still pushes filters through the
    repartition to the scan (tests/test_plans.py). Use ONLY where per-row
    CPU dominates: for cheap scans (hash+groupBy, column projections) the
    extra exchange is pure overhead, and the dedup/similarity operators
    already widen internally."""
    from windflow_spark.util import ensure_min_partitions

    return ensure_min_partitions(load_table(spark, name, sf_dir))


def _catalog_est(sf_dir: str, rows_factor: int, bytes_per_row: int) -> int | None:
    """Broadcast-size estimate for a parts-catalog-bounded frame:
    parquet_rows('part') x rows_factor x bytes_per_row, read from the
    parquet FOOTER (no Spark job). r12 (VERDICT r11 #2): the wedge-family
    edge lists and the recsys item model are dimension-CLASS but scale
    with the catalog, so their broadcast hints must degrade to shuffle
    joins once the estimate outgrows spark.windflow.broadcastCapBytes
    instead of forcing a driver OOM at a 100 TB catalog. For the edge
    list, rows_factor = _COPURCHASE_HUB_CAP is an AVERAGE-degree
    estimate, not a worst-case bound (estimates are what the planner
    itself broadcasts on — guide §3.1); the fallback path is a plain
    equi-join on (x, y), correct at any size. None (footer unreadable)
    disables the hint — the safe direction."""
    from windflow_spark.util import parquet_rows

    n = parquet_rows(sf_dir, "part")
    return None if n is None else n * rows_factor * bytes_per_row


def _recall_fold(bf: DataFrame, ap: DataFrame) -> DataFrame:
    """Single-pass recall readout (r12, guide §2.4): ``ap`` is a top-k
    frame UNIQUE on (query_id, vec_id), so a broadcast left join
    preserves ``bf``'s row count and n_exact = count(*), n_hits =
    count(marker) fold into ONE groupBy. The old hits-agg + n-agg +
    rejoin shape evaluated the brute-force scoring chain twice (no
    runtime exchange reuse across the left-semi/groupBy branches —
    measured 3.6 → 2.6 s on sim_pq_recall). Output identical to the
    n LEFT JOIN h form: count(marker) is 0 where coalesce gave 0."""
    per = (
        bf.join(
            F.broadcast(ap.withColumn("_m", F.lit(1))),
            ["query_id", "vec_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("_m").alias("n_hits"),
        )
    )
    return per.select(
        "query_id",
        F.col("n_hits").cast("long").alias("n_hits"),
        (F.col("n_hits").cast("double") / F.col("n_exact")).alias("recall"),
    )


def _in_year(ts_col: str, year: int) -> F.Column:
    """year(col) == y as a half-open range predicate — pushes to the
    parquet scan (row-group min/max skipping); `year()` wraps the column in
    a function and defeats pushdown (sf1 probe: only IsNotNull reached the
    q12 scan)."""
    return (F.col(ts_col) >= F.lit(f"{year}-01-01")) & (
        F.col(ts_col) < F.lit(f"{year + 1}-01-01")
    )


def _r2(col) -> F.Column:
    return F.round(col, 2)


def _dsum(expr) -> F.Column:
    """Exact money sum: accumulate as DECIMAL(18,6) (order-independent),
    round to cents, emit double. Plain double sums of 1e8+ magnitude land a
    summation-order-dependent ~1e-7 error on cent boundaries often enough to
    flip a rounded cent across engines/partitionings; decimal accumulation
    is bit-stable at any scale and parallelism. Both engines round decimals
    half-away-from-zero (verified)."""
    return F.round(F.sum(expr.cast("decimal(18,6)")), 2).cast("double")


# ---------------------------------------------------------------------------
# Relational layer (absent from the reference — SURVEY.md §2.11 "not present";
# Spark built-ins, exercised TPC-H-style)
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                   AS sum_qty,
           round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2)::DOUBLE AS sum_base_price,
           round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2)::DOUBLE AS sum_disc_price,
           round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))), 2)::DOUBLE AS sum_charge,
           round(avg(l_quantity), 2)                                   AS avg_qty,
           round(avg(l_extendedprice), 2)                              AS avg_price,
           round(avg(l_discount), 2)                                   AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _r2(F.sum("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dsum(disc).alias("sum_disc_price"),
            _dsum(disc * (1 + F.col("l_tax"))).alias("sum_charge"),
            _r2(F.avg("l_quantity")).alias("avg_qty"),
            _r2(F.avg("l_extendedprice")).alias("avg_price"),
            _r2(F.avg("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q6_revenue_filter",
    """
    SELECT round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))), 2)::DOUBLE AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_revenue_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(_dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


@register(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2)::DOUBLE AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_region_revenue",
    """
    SELECT n_name, round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2)::DOUBLE AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN supplier ON l_suppkey  = s_suppkey AND s_nationkey = c_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (supp.s_nationkey == cust.c_nationkey),
        )
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@register(
    "join_broadcast_parts",
    """
    SELECT p_brand, count(*) AS cnt,
           round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2)::DOUBLE AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_size <= 20
    GROUP BY p_brand
    """,
)
def join_broadcast_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 20)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
    )


@register(
    "semi_join_customers",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)
    """,
)
def semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "anti_join_customers",
    """
    SELECT c_custkey, c_acctbal FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_acctbal"
    )


@register(
    "agg_rollup_flags",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS cnt,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def agg_rollup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("cnt"), _r2(F.sum("l_quantity")).alias("sum_qty")
    )


@register(
    "distinct_agg_segments",
    """
    SELECT c_mktsegment, count(DISTINCT c_nationkey) AS n_nations, count(*) AS n_cust
    FROM customer GROUP BY c_mktsegment
    """,
)
def distinct_agg_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.count(F.lit(1)).alias("n_cust"),
    )


@register(
    "setop_intersect_customers",
    """
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 200000
    """,
)
def setop_intersect_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000).select("c_custkey")
    ords = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 200000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return cust.intersect(ords)


@register(
    "rank_top3_per_segment",
    """
    SELECT c_mktsegment, c_custkey, c_acctbal, rk FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             rank() OVER (PARTITION BY c_mktsegment
                          ORDER BY c_acctbal DESC, c_custkey) AS rk
      FROM customer) t
    WHERE rk <= 3
    """,
)
def rank_top3_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    cust = _t(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        cust.withColumn("rk", F.rank().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("c_mktsegment", "c_custkey", "c_acctbal", "rk")
    )


# ---------------------------------------------------------------------------
# Streaming-semantic operators on `events` (the reference's core surface,
# batch-checked; streaming forms live in windflow_spark/streaming)
# ---------------------------------------------------------------------------


@register(
    "map_enrich_events",
    """
    SELECT event_id, user_id, upper(event_type) AS etype,
           value * 1.1 AS value_taxed
    FROM events
    """,
)
def map_enrich_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-row FP arithmetic is emitted UNROUNDED: IEEE ops on identical input
    # bits are bit-identical across engines, while rounding a product that
    # systematically lands on .xx5 boundaries is not (HALF_UP vs float round)
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        F.upper("event_type").alias("etype"),
        (F.col("value") * 1.1).alias("value_taxed"),
    )


@register(
    "filter_events",
    "SELECT event_id, user_id, value FROM events WHERE event_type = 'click' AND value > 100",
)
def filter_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.filter((F.col("event_type") == "click") & (F.col("value") > 100)).select(
        "event_id", "user_id", "value"
    )


@register(
    "flatmap_tokens",
    """
    SELECT token, count(*) AS cnt FROM (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
    WHERE token <> ''
    GROUP BY token
    """,
)
def flatmap_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "reduce_rolling_sum",
    """
    SELECT event_id, user_id,
           count(*) OVER w AS running_cnt,
           round(sum(CAST(value AS DECIMAL(18,6))) OVER w, 2)::DOUBLE AS running_sum
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def reduce_rolling_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = rolling_reduce(
        ev,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        folds={"running_cnt": F.count(F.lit(1)), "_rsum": F.sum(F.col("value").cast("decimal(18,6)"))},
    )
    return out.select(
        "event_id", "user_id", "running_cnt", F.round(F.col("_rsum"), 2).cast("double").alias("running_sum")
    )


_WIN_TB_TUMBLING_SQL = """
    SELECT user_id, make_timestamp(b) AS w_start, count(*) AS cnt,
           round(sum(CAST(value AS DECIMAL(18,6))), 2)::DOUBLE AS sum_value
    FROM (SELECT user_id, epoch_us(ts) - epoch_us(ts) % {LEN} AS b, value FROM events) t
    GROUP BY user_id, b
"""


@register("win_tb_tumbling_1h", _WIN_TB_TUMBLING_SQL.format(LEN=US_HOUR))
def win_tb_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return tumbling_window_tb(
        ev,
        key_cols=["user_id"],
        ts_col="ts",
        length_us=US_HOUR,
        aggs=[F.count(F.lit(1)).alias("cnt"), _dsum(F.col("value")).alias("sum_value")],
    ).select("user_id", "w_start", "cnt", "sum_value")


_WIN_TB_SLIDING_SQL = """
    SELECT user_id, make_timestamp(wid * {SLIDE}) AS w_start, count(*) AS cnt,
           round(sum(CAST(value AS DECIMAL(18,6))), 2)::DOUBLE AS sum_value
    FROM (SELECT user_id, value,
                 unnest(generate_series(
                     greatest((epoch_us(ts) - {LEN} + {SLIDE}) // {SLIDE}, 0),
                     epoch_us(ts) // {SLIDE})) AS wid
          FROM events) t
    GROUP BY user_id, wid
"""


@register("win_tb_sliding_1h_15m", _WIN_TB_SLIDING_SQL.format(LEN=US_HOUR, SLIDE=US_15MIN))
def win_tb_sliding_1h_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return sliding_window_tb(
        ev,
        key_cols=["user_id"],
        ts_col="ts",
        length_us=US_HOUR,
        slide_us=US_15MIN,
        aggs=[F.count(F.lit(1)).alias("cnt"), _dsum(F.col("value")).alias("sum_value")],
    ).select("user_id", "w_start", "cnt", "sum_value")


@register(
    "win_tb_hopping_30m_2h",
    _WIN_TB_SLIDING_SQL.format(LEN=US_30MIN, SLIDE=US_2HOUR),
)
def win_tb_hopping_30m_2h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping windows with gaps (len < slide) — reference
    wf/window_replica.hpp:267-273 supports this degenerate sliding form."""
    ev = _t(spark, sf_dir, "events")
    return sliding_window_tb(
        ev,
        key_cols=["user_id"],
        ts_col="ts",
        length_us=US_30MIN,
        slide_us=US_2HOUR,
        aggs=[F.count(F.lit(1)).alias("cnt"), _dsum(F.col("value")).alias("sum_value")],
    ).select("user_id", "w_start", "cnt", "sum_value")


# Paned / MapReduce / Parallel / Ffat windows are physical variants of the
# same logical window result (SURVEY.md §2.5) — each gets its own queries()
# entry proving result-equality against the SAME oracle.


@register("win_paned_1h_15m", _WIN_TB_SLIDING_SQL.format(LEN=US_HOUR, SLIDE=US_15MIN))
def win_paned_1h_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return paned_window_tb(
        ev,
        key_cols=["user_id"],
        ts_col="ts",
        length_us=US_HOUR,
        slide_us=US_15MIN,
        pane_aggs=[F.count(F.lit(1)).alias("_pc"), F.sum(F.col("value").cast("decimal(18,6)")).alias("_ps")],
        final_aggs=[F.sum("_pc").alias("cnt"), F.round(F.sum("_ps"), 2).cast("double").alias("sum_value")],
    ).select("user_id", "w_start", "cnt", "sum_value")


_US_DAY = 86_400_000_000

_WIN_DENSE_DIURNAL_SQL = f"""
    SELECT event_type, make_timestamp(wid * {US_MIN}) AS w_start,
           count(*) AS cnt, round(sum(CAST(value AS DECIMAL(18,6))), 2)::DOUBLE AS sum_value
    FROM (SELECT event_type, value,
                 unnest(generate_series(
                     greatest((tod - {US_HOUR} + {US_MIN}) // {US_MIN}, 0),
                     tod // {US_MIN})) AS wid
          FROM (SELECT event_type, value,
                       epoch_us(ts) % {_US_DAY} AS tod FROM events) f) t
    GROUP BY event_type, wid
"""


@register("win_tb_sliding_dense_1h_1m", _WIN_DENSE_DIURNAL_SQL)
def win_tb_sliding_dense_1h_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DENSE sliding config (1h window, 1m slide = 60 covering windows per
    row) over the diurnal profile: events folded to time-of-day, keyed by
    event_type — the classic ops-dashboard 'sliding hourly rate by minute
    of day'. Folding concentrates the 30-day span 30× per minute, the
    shape where the pane rewrite pays. Routes through the cost-gated auto
    form (r5): replication 60 >= 8 → paned_window_tb (each row aggregated
    once into its 1m pane; only pane aggregates replicate 60×). Measured
    at sf0.1: pane 0.34 s vs direct-explode 0.45 s warm, and the gap
    widens with scale (per-pane density grows linearly with data size
    while explode replication stays 60×)."""
    from windflow_spark.operators.windows import sliding_window_tb_auto

    ev = _t(spark, sf_dir, "events")
    folded = ev.withColumn(
        "tod", F.timestamp_micros(F.unix_micros(F.col("ts")) % F.lit(_US_DAY))
    ).withColumn("value_dec", F.col("value").cast("decimal(18,6)"))
    return (
        sliding_window_tb_auto(
            folded,
            key_cols=["event_type"],
            ts_col="tod",
            length_us=US_HOUR,
            slide_us=US_MIN,
            spec=[("count", "*", "cnt"), ("sum", "value_dec", "_sv")],
        )
        .select(
            "event_type",
            "w_start",
            "cnt",
            F.round(F.col("_sv"), 2).cast("double").alias("sum_value"),
        )
    )


@register("win_mapreduce_tumbling_1h", _WIN_TB_TUMBLING_SQL.format(LEN=US_HOUR))
def win_mapreduce_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapReduce_Windows ≡ partial+final aggregation (reference
    wf/mapreduce_windows.hpp:140-141). Expressed as an explicit two-level
    agg: per-partition partials, then final combine — same shape Spark's
    hash aggregate generates internally."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    b = (us - us % F.lit(US_HOUR)).alias("_b")
    partial = ev.groupBy("user_id", b, F.spark_partition_id().alias("_pid")).agg(
        F.count(F.lit(1)).alias("_pc"), F.sum(F.col("value").cast("decimal(18,6)")).alias("_ps")
    )
    return (
        partial.groupBy("user_id", "_b")
        .agg(F.sum("_pc").alias("cnt"), F.round(F.sum("_ps"), 2).cast("double").alias("sum_value"))
        .select(
            "user_id",
            F.timestamp_micros(F.col("_b")).alias("w_start"),
            "cnt",
            "sum_value",
        )
    )


_WIN_CB_TUMBLING_SQL = """
    SELECT user_id, rid // {LEN} AS wid, count(*) AS cnt,
           round(sum(CAST(value AS DECIMAL(18,6))), 2)::DOUBLE AS sum_value
    FROM (SELECT user_id, value,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rid
          FROM events) t
    GROUP BY user_id, wid
"""


@register("win_cb_tumbling_10", _WIN_CB_TUMBLING_SQL.format(LEN=10))
def win_cb_tumbling_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return tumbling_window_cb(
        ev,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        length=10,
        aggs=[F.count(F.lit(1)).alias("cnt"), _dsum(F.col("value")).alias("sum_value")],
    ).select("user_id", "wid", "cnt", "sum_value")


_WIN_CB_SLIDING_SQL = """
    SELECT user_id, wid, count(*) AS cnt, round(sum(CAST(value AS DECIMAL(18,6))), 2)::DOUBLE AS sum_value
    FROM (SELECT user_id, value,
                 unnest(generate_series((greatest(rid - {LEN} + 1, 0) + {SLIDE} - 1) // {SLIDE},
                                        rid // {SLIDE})) AS wid
          FROM (SELECT user_id, value,
                       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rid
                FROM events) r) t
    GROUP BY user_id, wid
"""


@register("win_cb_sliding_10_5", _WIN_CB_SLIDING_SQL.format(LEN=10, SLIDE=5))
def win_cb_sliding_10_5(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return sliding_window_cb(
        ev,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        length=10,
        slide=5,
        aggs=[F.count(F.lit(1)).alias("cnt"), _dsum(F.col("value")).alias("sum_value")],
    ).select("user_id", "wid", "cnt", "sum_value")


@register(
    "win_spine_empty_1d",
    f"""
    WITH b AS (SELECT user_id,
                      epoch_us(min(ts)) // {US_DAY} AS wmin,
                      epoch_us(max(ts)) // {US_DAY} AS wmax
               FROM events GROUP BY user_id),
    s AS (SELECT user_id, unnest(generate_series(wmin, wmax)) AS wid FROM b),
    a AS (SELECT user_id, epoch_us(ts) // {US_DAY} AS wid, count(*) AS c,
                 round(sum(CAST(value AS DECIMAL(18,6))), 2)::DOUBLE AS sv
          FROM events GROUP BY user_id, wid)
    SELECT s.user_id AS user_id, make_timestamp(s.wid * {US_DAY}) AS w_start,
           coalesce(a.c, 0) AS cnt, coalesce(a.sv, 0.0) AS sum_value
    FROM s LEFT JOIN a ON s.user_id = a.user_id AND s.wid = a.wid
    """,
)
def win_spine_empty_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empty-window parity: WindFlow fires empty TB windows (reference
    wf/window_replica.hpp:306-317); Spark's groupBy doesn't — left-join the
    aggregate onto the generated window spine."""
    ev = _t(spark, sf_dir, "events")
    spine = window_spine_tb(ev, ["user_id"], "ts", US_DAY)
    agg = tumbling_window_tb(
        ev,
        key_cols=["user_id"],
        ts_col="ts",
        length_us=US_DAY,
        aggs=[F.count(F.lit(1)).alias("_c"), _dsum(F.col("value")).alias("_sv")],
    )
    return (
        spine.join(agg, ["user_id", "w_start"], "left")
        .select(
            "user_id",
            "w_start",
            F.coalesce(F.col("_c"), F.lit(0)).alias("cnt"),
            F.coalesce(F.col("_sv"), F.lit(0.0)).alias("sum_value"),
        )
    )


@register("win_cb_hopping_5_10", _WIN_CB_SLIDING_SQL.format(LEN=5, SLIDE=10))
def win_cb_hopping_5_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based hopping-with-gaps windows (len=5 < slide=10): window w
    covers per-key ids [w·slide, w·slide+len); ids in the gap belong to NO
    window (reference supports len<slide for CB too,
    wf/window_replica.hpp:267-273). Same assignment formula as CB sliding —
    lo>hi yields an empty window list for gap rows in both engines."""
    ev = _t(spark, sf_dir, "events")
    return sliding_window_cb(
        ev,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        length=5,
        slide=10,
        aggs=[F.count(F.lit(1)).alias("cnt"), _dsum(F.col("value")).alias("sum_value")],
    ).select("user_id", "wid", "cnt", "sum_value")


_INTERVAL_JOIN_SQL = f"""
    SELECT a.event_id AS click_id, b.event_id AS purchase_id,
           a.user_id AS user_id, b.value AS purchase_value
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND epoch_us(b.ts) >= epoch_us(a.ts)
     AND epoch_us(b.ts) <= epoch_us(a.ts) + {US_HOUR}
    WHERE a.event_type = 'click' AND b.event_type = 'purchase'
"""


@register("interval_join_kp", _INTERVAL_JOIN_SQL)
def interval_join_kp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-partitioned interval join (reference Join_Mode_t::KP,
    wf/interval_join.hpp:279-313) — shuffle equi-join on the key with a
    residual time-range predicate."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    j = interval_join(
        clicks, purchases, key_cols=["user_id"], a_ts="ts", b_ts="ts",
        lower_us=0, upper_us=US_HOUR,
    )
    return j.select(
        F.col("a.event_id").alias("click_id"),
        F.col("b.event_id").alias("purchase_id"),
        F.col("a.user_id").alias("user_id"),
        F.col("b.value").alias("purchase_value"),
    )


@register("interval_join_dp", _INTERVAL_JOIN_SQL)
def interval_join_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-parallel (broadcast) interval join (reference Join_Mode_t::DP,
    wf/basic.hpp:87) — same logical result, broadcast physical plan."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    j = interval_join(
        clicks, purchases, key_cols=["user_id"], a_ts="ts", b_ts="ts",
        lower_us=0, upper_us=US_HOUR, broadcast_side="b",
    )
    return j.select(
        F.col("a.event_id").alias("click_id"),
        F.col("b.event_id").alias("purchase_id"),
        F.col("a.user_id").alias("user_id"),
        F.col("b.value").alias("purchase_value"),
    )


@register("interval_join_bucketed", _INTERVAL_JOIN_SQL)
def interval_join_bucketed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucket-blocked interval join — the large-large scale variant
    (reference semantics wf/interval_join.hpp:279-295). Join key is
    (user_id, time_bucket) so low-cardinality keys spread across tasks;
    each A row is replicated to ≤2 covering buckets, each matching pair
    shares exactly one bucket (no dup pairs)."""
    from windflow_spark.operators.interval_join import interval_join_bucketed

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    j = interval_join_bucketed(
        clicks, purchases, key_cols=["user_id"], a_ts="ts", b_ts="ts",
        lower_us=0, upper_us=US_HOUR,
    )
    return j.select(
        F.col("a.event_id").alias("click_id"),
        F.col("b.event_id").alias("purchase_id"),
        F.col("a.user_id").alias("user_id"),
        F.col("b.value").alias("purchase_value"),
    )


@register(
    "interval_join_left_unmatched",
    f"""
    SELECT a.event_id AS click_id, a.user_id AS user_id, a.ts AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') a
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON a.user_id = b.user_id
     AND epoch_us(b.ts) >= epoch_us(a.ts)
     AND epoch_us(b.ts) <= epoch_us(a.ts) + {US_HOUR}
    WHERE b.event_id IS NULL
    """,
)
def interval_join_left_unmatched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-outer bucketed interval join, unmatched-preserved-side
    detection: clicks with NO purchase within the next hour (the
    late-unmatched user need; WindFlow's Interval_Join is inner-only,
    wf/interval_join.hpp:279-313 — outer is the Spark-native completion,
    r6 VERDICT #5). Uses the key×time bucketed form with the replication
    side FLIPPED (A single-bucket, B replicated) so each unmatched click
    null-emits exactly once. Streaming sibling:
    streaming/ops.streaming_interval_join_bucketed(how='left')."""
    from windflow_spark.operators.interval_join import interval_join_bucketed

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    j = interval_join_bucketed(
        clicks, purchases, key_cols=["user_id"], a_ts="ts", b_ts="ts",
        lower_us=0, upper_us=US_HOUR, how="left",
    )
    return j.filter(F.col("b.event_id").isNull()).select(
        F.col("a.event_id").alias("click_id"),
        F.col("a.user_id").alias("user_id"),
        F.col("a.ts").alias("click_ts"),
    )


@register(
    "interval_join_full_unmatched",
    f"""
    SELECT coalesce(a.user_id, b.user_id) AS user_id,
           a.event_id AS click_id, b.event_id AS purchase_id
    FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') a
    FULL JOIN (SELECT user_id, event_id, ts FROM events
               WHERE event_type = 'purchase') b
      ON a.user_id = b.user_id
     AND epoch_us(b.ts) >= epoch_us(a.ts)
     AND epoch_us(b.ts) <= epoch_us(a.ts) + {US_HOUR}
    WHERE a.event_id IS NULL OR b.event_id IS NULL
    """,
)
def interval_join_full_unmatched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-outer bucketed interval join, BOTH unmatched sides (completes
    the §2.6 how-matrix, r7 VERDICT #4): clicks with no purchase within
    the next hour AND purchases preceded by no click in the prior hour.
    A single bucketed join cannot be full-outer (the replicated side would
    null-emit once per replica) — uses the union-of-two-outer
    decomposition: left-layout left join ∪ unmatched-B rows of a
    right-layout right join, marker-detected. Streaming sibling:
    streaming/ops.streaming_interval_join_full_bucketed (parity test
    across micro-batch splits)."""
    from windflow_spark.operators.interval_join import interval_join_full_bucketed

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    j = interval_join_full_bucketed(
        clicks, purchases, key_cols=["user_id"], a_ts="ts", b_ts="ts",
        lower_us=0, upper_us=US_HOUR,
    )
    return j.filter(
        F.col("a_event_id").isNull() | F.col("b_event_id").isNull()
    ).select(
        "user_id",
        F.col("a_event_id").alias("click_id"),
        F.col("b_event_id").alias("purchase_id"),
    )


@register(
    "merge_union_events",
    """
    SELECT user_id, count(*) AS n, round(sum(CAST(value AS DECIMAL(18,6))), 2)::DOUBLE AS sum_value FROM (
      SELECT user_id, value FROM events WHERE event_type = 'purchase' AND value > 50
      UNION ALL
      SELECT user_id, value FROM events WHERE event_type = 'error' AND value <= 100
    ) t GROUP BY user_id
    """,
)
def merge_union_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    a = ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 50)).select(
        "user_id", "value"
    )
    b = ev.filter((F.col("event_type") == "error") & (F.col("value") <= 100)).select(
        "user_id", "value"
    )
    return merge_pipes(a, b).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), _dsum(F.col("value")).alias("sum_value")
    )


@register(
    "split_route_counts",
    """
    SELECT branch, count(*) AS cnt FROM (
      SELECT CASE WHEN event_type = 'purchase' THEN 0
                  WHEN event_type IN ('click', 'view') THEN 1
                  ELSE 2 END AS branch
      FROM events) t
    GROUP BY branch
    """,
)
def split_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    route = (
        F.when(F.col("event_type") == "purchase", 0)
        .when(F.col("event_type").isin("click", "view"), 1)
        .otherwise(2)
    )
    branches = split_by(ev, route, 3)
    counted = [
        b.agg(F.count(F.lit(1)).alias("cnt")).select(
            F.lit(i).cast("int").alias("branch"), "cnt"
        )
        for i, b in enumerate(branches)
    ]
    return merge_pipes(*counted)


# ---------------------------------------------------------------------------
# LLM-data-pipeline layer (BASELINE.json north star)
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_documents",
    """
    SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from windflow_spark.functions.dedup import exact_dedup_groups

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup_groups(docs, text_col="text", id_col="doc_id")


@register(
    "dedup_segments_exact",
    """
    WITH d AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents),
    segs AS (
      SELECT doc_id, CAST(i // 8 AS BIGINT) AS seg_idx,
             array_to_string(toks[i + 1 : i + 8], ' ') AS seg
      FROM d, unnest(generate_series(0, len(toks) - 1, 8)) AS u(i)
      WHERE len(toks) >= 1),
    keep AS (
      SELECT doc_id, seg_idx, seg,
             row_number() OVER (PARTITION BY md5(seg)
                                ORDER BY doc_id, seg_idx) AS rn
      FROM segs)
    SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text,
           count(*) AS n_kept
    FROM keep WHERE rn = 1 GROUP BY doc_id
    """,
)
def dedup_segments_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup: 8-token segments deduplicated corpus-wide
    (survivor = min (doc_id, seg_idx)), documents rebuilt from surviving
    segments — the boilerplate-span pass whole-doc dedup misses."""
    from windflow_spark.functions.dedup import dedup_segments

    docs = _t_wide(spark, sf_dir, "documents")
    return dedup_segments(docs, text_col="text", id_col="doc_id", seg_tokens=8)


@register(
    "text_stats",
    """
    SELECT doc_id, lang, length(text) AS n_chars_exact,
           len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from windflow_spark.functions.text import with_text_stats

    docs = _t_wide(spark, sf_dir, "documents")
    return with_text_stats(docs).select("doc_id", "lang", "n_chars_exact", "n_tokens")


# ---------------------------------------------------------------------------
# Batch 2: session windows, analytic functions, JSON, scalar battery, outer
# joins, cube, percentiles, set ops, similarity + near-dup with oracles
# ---------------------------------------------------------------------------


@register(
    "win_session_30m",
    f"""
    WITH s AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {US_30MIN}
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    g AS (
      SELECT user_id, ts, value,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      FROM s)
    SELECT user_id, sid, min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS cnt, round(sum(CAST(value AS DECIMAL(18,6))), 2)::DOUBLE AS sum_value
    FROM g GROUP BY user_id, sid
    """,
)
def win_session_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    from windflow_spark.operators.windows import session_window_agg

    ev = _t(spark, sf_dir, "events")
    return session_window_agg(
        ev,
        key_cols=["user_id"],
        ts_col="ts",
        order_cols=["ts", "event_id"],
        gap_us=US_30MIN,
        aggs=[
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("cnt"),
            _dsum(F.col("value")).alias("sum_value"),
        ],
    ).select("user_id", "sid", "session_start", "session_end", "cnt", "sum_value")


@register(
    "win_lead_lag",
    """
    SELECT event_id, user_id,
           lag(value)  OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           first_value(value) OVER w AS first_value_of_user,
           value - coalesce(lag(value) OVER w, 0.0) AS delta
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.first("value").over(w).alias("first_value_of_user"),
        (F.col("value") - F.coalesce(F.lag("value").over(w), F.lit(0.0))).alias("delta"),
    )


@register(
    "win_analytics_battery",
    """
    SELECT event_id, user_id,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           last_value(value) OVER
             (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS final_value,
           sum(value) OVER
             (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS rolling3_sum
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_analytics_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked/distribution/frame window analytics in one pass: ntile,
    percent_rank, cume_dist, whole-partition last_value, and a 3-row
    rolling frame sum — the analytic surface a reference user gets beyond
    the aggregate windows, sharing ONE sort per partition spec (Catalyst
    collapses same-spec window exprs into a single Window node)."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    w3 = w.rowsBetween(-2, W.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.last("value").over(wfull).alias("final_value"),
        F.sum("value").over(w3).alias("rolling3_sum"),
    )


@register(
    "json_props_sum",
    """
    SELECT event_type, CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def json_props_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "scalar_battery",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT)  AS yr,
           CAST(month(o_orderdate) AS BIGINT) AS mo,
           substr(o_orderpriority, 1, 1)      AS prio_code,
           CAST(length(o_orderstatus) AS BIGINT) AS status_len,
           abs(o_totalprice - 100000.0)       AS dist,
           CASE WHEN o_totalprice > 250000 THEN 'big' ELSE 'small' END AS bucket,
           concat(o_orderstatus, '-', substr(o_orderpriority, 1, 1)) AS tag,
           o_totalprice * 0.9 + 10.0          AS adjusted
    FROM orders
    """,
)
def scalar_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.length("o_orderstatus").cast("long").alias("status_len"),
        F.abs(F.col("o_totalprice") - 100000.0).alias("dist"),
        F.when(F.col("o_totalprice") > 250000, "big").otherwise("small").alias("bucket"),
        F.concat_ws("-", "o_orderstatus", F.substring("o_orderpriority", 1, 1)).alias("tag"),
        (F.col("o_totalprice") * 0.9 + 10.0).alias("adjusted"),
    )


@register(
    "date_agg_monthly",
    """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(month(o_orderdate) AS BIGINT) AS mo,
           round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2)::DOUBLE AS rev, count(*) AS n
    FROM orders GROUP BY yr, mo
    """,
)
def date_agg_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
    ).agg(_dsum(F.col("o_totalprice")).alias("rev"), F.count(F.lit(1)).alias("n"))


@register(
    "left_join_order_counts",
    """
    SELECT c_custkey, count(o_orderkey) AS n_orders,
           round(coalesce(sum(o_totalprice), 0.0), 2) AS total_spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def left_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            _r2(F.coalesce(F.sum("o_totalprice"), F.lit(0.0))).alias("total_spent"),
        )
    )


@register(
    "full_outer_nation_stats",
    """
    SELECT coalesce(c.c_nationkey, s.s_nationkey) AS nationkey,
           coalesce(c.n_cust, 0) AS n_cust, coalesce(s.n_supp, 0) AS n_supp
    FROM (SELECT c_nationkey, count(*) AS n_cust FROM customer GROUP BY c_nationkey) c
    FULL OUTER JOIN
         (SELECT s_nationkey, count(*) AS n_supp FROM supplier GROUP BY s_nationkey) s
    ON c.c_nationkey = s.s_nationkey
    """,
)
def full_outer_nation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        _t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return (
        cust.join(supp, cust.c_nationkey == supp.s_nationkey, "full_outer")
        .select(
            F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
    )


@register(
    "agg_cube_orders",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
           round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2)::DOUBLE AS rev
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def agg_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt"), _dsum(F.col("o_totalprice")).alias("rev")
    )


@register(
    "percentiles_by_type",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.9), 4) AS p90
    FROM events GROUP BY event_type
    """,
)
def percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
    )


@register(
    "setop_union_distinct",
    """
    SELECT c_custkey FROM customer WHERE c_nationkey = 1
    UNION
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 400000
    """,
)
def setop_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _t(spark, sf_dir, "customer").filter(F.col("c_nationkey") == 1).select("c_custkey")
    b = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return a.union(b).distinct()


@register(
    "setop_except_customers",
    """
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000
    """,
)
def setop_except_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _t(spark, sf_dir, "customer").select("c_custkey")
    b = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return a.exceptAll(b).distinct()


@register(
    "scalar_subquery_above_avg",
    """
    SELECT c_custkey, c_acctbal FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
    """,
)
def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    avg_bal = cust.agg(F.avg("c_acctbal").alias("_avg"))
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .select("c_custkey", "c_acctbal")
    )


@register(
    "groupwise_max_order",
    """
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) t
    WHERE rn = 1
    """,
)
def groupwise_max_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


# -- LLM-pipeline batch 2 ----------------------------------------------------


@register(
    "lang_id_documents",
    None,  # SQL attached below (generated to mirror the heuristic exactly)
)
def lang_id_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from windflow_spark.functions.text import lang_id_heuristic

    docs = _t_wide(spark, sf_dir, "documents")
    return lang_id_heuristic(docs).select("doc_id", "lang_pred")


from windflow_spark.functions.text import lang_id_oracle_sql as _lang_sql  # noqa: E402

ORACLE["lang_id_documents"] = _lang_sql()


@register(
    "text_quality_scores",
    """
    WITH t AS (
      SELECT doc_id, text,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents)
    SELECT doc_id,
           CAST(list_sum(list_transform(toks, x -> length(x))) AS INT)
             / greatest(len(toks), 1) AS q_mean_word_len,
           length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
             / greatest(length(text), 1) AS q_alpha_ratio,
           least(1.0, len(toks) / 100.0)
             * (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                / greatest(length(text), 1)) AS q_score
    FROM t
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from windflow_spark.functions.text import quality_score

    docs = _t_wide(spark, sf_dir, "documents")
    return quality_score(docs).select("doc_id", "q_mean_word_len", "q_alpha_ratio", "q_score")


@register(
    "text_repetition_scores",
    """
    WITH d AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents),
    ts AS (
      SELECT doc_id,
             1.0 - len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1)
               AS dup_token_frac
      FROM d),
    g AS (
      SELECT doc_id, concat_ws(' ', toks[i], toks[i+1]) AS bg
      FROM d, unnest(generate_series(1, len(toks) - 1)) AS u(i)),
    c AS (SELECT doc_id, bg, count(*) AS c FROM g GROUP BY doc_id, bg),
    tb AS (
      SELECT doc_id, max(c)::DOUBLE / sum(c) AS top_bigram_frac
      FROM c GROUP BY doc_id)
    SELECT ts.doc_id, dup_token_frac,
           coalesce(top_bigram_frac, 0.0) AS top_bigram_frac
    FROM ts LEFT JOIN tb USING (doc_id)
    """,
)
def text_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/boilerplate signals (duplicate-token and
    top-bigram fractions) — the standard quality-filter pass between
    dedup and training (functions/text.repetition_scores)."""
    from windflow_spark.functions.text import repetition_scores

    return repetition_scores(_t_wide(spark, sf_dir, "documents"))


@register(
    "text_redact_pii",
    r"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\+?[0-9][0-9() -]{7,}[0-9]', '<PHONE>', 'g'),
             '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g')
             AS redacted
    FROM documents
    """,
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: emails, phone-shaped digit runs, IPv4 literals →
    typed placeholders (functions/text.redact_pii; patterns restricted to
    plain character classes so Java regex and RE2 agree byte-for-byte)."""
    from windflow_spark.functions.text import redact_pii

    docs = _t_wide(spark, sf_dir, "documents")
    return docs.select("doc_id", redact_pii("text").alias("redacted"))


@register(
    "sim_topk_bruteforce",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
    s AS (SELECT q.query_id, c.vec_id,
                 round(list_cosine_similarity(qv, cv), 6) AS cos_sim
          FROM c JOIN q ON c.vec_id <> q.query_id),
    r AS (SELECT query_id, vec_id, cos_sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, vec_id) AS rk
          FROM s)
    SELECT query_id, vec_id, cos_sim, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 5
    """,
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from windflow_spark.functions.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return brute_force_topk(emb, queries_df, k=5)


@register(
    "dedup_ngram_jaccard",
    """
    WITH d AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents),
    b AS (
      SELECT doc_id, toks,
             concat_ws(' ', toks[1], toks[2], toks[3], toks[4], toks[5]) AS bucket
      FROM d WHERE len(toks) >= 5),
    sh AS (
      SELECT doc_id, bucket,
             list_distinct(list_transform(generate_series(1, len(toks) - 2),
                 i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS s
      FROM b),
    p AS (
      SELECT a.doc_id AS id_a, b2.doc_id AS id_b, a.s AS sa, b2.s AS sb
      FROM sh a JOIN sh b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id)
    SELECT id_a, id_b,
           round(len(list_intersect(sa, sb))::DOUBLE
                 / len(list_distinct(list_concat(sa, sb))), 4) AS jaccard
    FROM p
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates bucketed by exact 5-token prefix, verified with
    exact 3-shingle Jaccard — the SQL-checkable sibling of the MinHash-LSH
    path (same candidate-join shape: join per bucket, no cross product)."""
    from windflow_spark.functions.dedup import shingle_sets
    from windflow_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    # bucket (cheap 5-token prefix per doc) joined to the lead-window shingle
    # sets (dedup.shingle_sets); the inner join keeps only >= 5-token docs
    buckets = (
        docs.select("doc_id", tokens("text").alias("_toks"))
        .filter(F.size("_toks") >= 5)
        .select("doc_id", F.concat_ws(" ", F.slice("_toks", 1, 5)).alias("bucket"))
    )
    d = buckets.join(shingle_sets(docs), "doc_id").select(
        "doc_id", "bucket", F.col("_sh").alias("s")
    )
    a = d.alias("a")
    b = d.alias("b")
    inter = F.size(F.array_intersect(F.col("a.s"), F.col("b.s")))
    union = F.size(F.array_union(F.col("a.s"), F.col("b.s")))
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.round(inter.cast("double") / union, 4).alias("jaccard"),
        )
    )


@register(
    "dedup_ngram_jaccard_capped",
    """
    WITH d AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents),
    b AS (
      SELECT doc_id, toks,
             concat_ws(' ', toks[1], toks[2], toks[3], toks[4], toks[5]) AS bucket
      FROM d WHERE len(toks) >= 5),
    sh AS (
      SELECT doc_id, bucket,
             list_distinct(list_transform(generate_series(1, len(toks) - 2),
                 i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS s
      FROM b
      QUALIFY count(*) OVER (PARTITION BY bucket) <= 8),
    p AS (
      SELECT a.doc_id AS id_a, b2.doc_id AS id_b, a.s AS sa, b2.s AS sb
      FROM sh a JOIN sh b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id)
    SELECT id_a, id_b,
           round(len(list_intersect(sa, sb))::DOUBLE
                 / len(list_distinct(list_concat(sa, sb))), 4) AS jaccard
    FROM p
    """,
)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_ngram_jaccard with a bucket-width cap (8): prefix buckets
    wider than the cap are dropped BEFORE the self-join — closes the
    documented 100× caveat (a boilerplate-shared prefix makes the
    within-bucket join quadratic; an oversized exact-prefix bucket carries
    no discriminative signal, same argument as the LSH cap). The width
    count is a window over the same bucket partitioning the join shuffles
    on — no extra keyed exchange."""
    from pyspark.sql import Window

    from windflow_spark.functions.dedup import shingle_sets
    from windflow_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    buckets = (
        docs.select("doc_id", tokens("text").alias("_toks"))
        .filter(F.size("_toks") >= 5)
        .select("doc_id", F.concat_ws(" ", F.slice("_toks", 1, 5)).alias("bucket"))
    )
    d = buckets.join(shingle_sets(docs), "doc_id").select(
        "doc_id", "bucket", F.col("_sh").alias("s")
    )
    d = (
        d.withColumn("_w", F.count(F.lit(1)).over(Window.partitionBy("bucket")))
        .filter(F.col("_w") <= 8)
        .drop("_w")
    )
    a = d.alias("a")
    b = d.alias("b")
    inter = F.size(F.array_intersect(F.col("a.s"), F.col("b.s")))
    union = F.size(F.array_union(F.col("a.s"), F.col("b.s")))
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.round(inter.cast("double") / union, 4).alias("jaccard"),
        )
    )


# md5-portable MinHash oracle: one md5 per shingle split into two integer
# halves (b1 = first 15 hex chars, b2 = next 14); permutation p's hash is
# b1 + p*b2 and the signature is the per-permutation minimum — mirroring
# functions/dedup.py minhash_base_md5 + minhash_signature_md5 bit-for-bit.
# 8 bands of 4 rows, band bucket = md5 of the comma-joined decimal values.
_MINHASH_MD5_MINS = ",\n        ".join(
    f"list_aggregate(list_transform(base, x -> x[1] + {p} * x[2]), 'min')"
    for p in range(32)
)


def _minhash_lsh_sql(max_bucket_width: int | None = None, jaccard_floor: float | None = None) -> str:
    """The md5-portable MinHash-LSH oracle, optionally with the bucket-width
    cap (QUALIFY over (band, bucket) mirrors the engine's window filter)."""
    cap = (
        f"""
    bf AS (
      SELECT doc_id, band, bucket FROM b
      QUALIFY count(*) OVER (PARTITION BY band, bucket) <= {max_bucket_width}),"""
        if max_bucket_width is not None
        else ""
    )
    pair_src = "bf" if max_bucket_width is not None else "b"
    floor = f" WHERE jaccard >= {jaccard_floor}" if jaccard_floor is not None else ""
    return f"""
    WITH d AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents),
    s AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(toks) - 2),
                 i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh
      FROM d WHERE len(toks) >= 3),
    bs AS (
      SELECT doc_id, sh,
             list_transform(sh, s -> [
               ('0x' || substr(md5(s), 1, 15))::BIGINT,
               ('0x' || substr(md5(s), 16, 14))::BIGINT
             ]) AS base
      FROM s),
    g AS (
      SELECT doc_id, [
        {_MINHASH_MD5_MINS}
      ] AS sig FROM bs),
    b AS (
      SELECT doc_id, j AS band,
             md5(concat_ws(',', sig[j*4+1], sig[j*4+2], sig[j*4+3], sig[j*4+4])) AS bucket
      FROM g, generate_series(0, 7) AS t(j)),{cap}
    p AS (
      SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      FROM {pair_src} a JOIN {pair_src} b2
        ON a.band = b2.band AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id),
    jac AS (
      SELECT id_a, id_b,
             round(len(list_intersect(sa.sh, sb.sh))::DOUBLE
                   / len(list_distinct(list_concat(sa.sh, sb.sh))), 4) AS jaccard
      FROM p JOIN s sa ON p.id_a = sa.doc_id JOIN s sb ON p.id_b = sb.doc_id)
    SELECT id_a, id_b, jaccard FROM jac{floor}
    """


_MINHASH_LSH_SQL = _minhash_lsh_sql(jaccard_floor=0.8)


@register("dedup_minhash_lsh", _MINHASH_LSH_SQL)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates + exact-Jaccard verify, in the
    md5-portable hash mode so the DuckDB oracle reproduces signatures,
    band buckets, and therefore the exact candidate set (graduated from
    rows-only in r1; xxhash64 stays the library's fast default). r5: the
    fully-fused form — one shingle pass, grouped-bucket pair expansion,
    melt-join verify (functions/dedup.minhash_lsh_jaccard)."""
    from windflow_spark.functions.dedup import minhash_lsh_jaccard

    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_jaccard(docs, num_hashes=32, bands=8, hash_mode="md5").filter(
        F.col("jaccard") >= 0.8
    )


@register("dedup_minhash_lsh_capped", _minhash_lsh_sql(max_bucket_width=3))
def dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH with the bucket-width cap (SCALE.md: a hot
    boilerplate bucket implies quadratic within-bucket work; capped buckets
    are standard LSH practice). Emits ALL surviving candidate pairs with
    their exact Jaccard — the oracle reproduces the cap via QUALIFY over
    (band, bucket) — so the driver value-checks the cap semantics, not just
    the flagship's >= 0.8 survivors."""
    from windflow_spark.functions.dedup import minhash_lsh_jaccard

    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_jaccard(
        docs, num_hashes=32, bands=8, hash_mode="md5", max_bucket_width=3
    )


# md5-portable SimHash oracle: per-token 60-bit hash = first 15 hex chars of
# md5(token); bit j of the fingerprint is the majority vote over tokens
# (duplicates counted) of bit j of the token hash. Bit j lives in hex char
# 15 - (j // 4) (1-based; char 1 is the most significant nibble), at
# in-nibble position j % 4.
_SIMHASH_MD5_SQL = """
    WITH d AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents),
    t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
    h AS (SELECT doc_id, substr(md5(tok), 1, 15) AS hx FROM t),
    v AS (
      SELECT doc_id, j,
             SUM(CASE WHEN (((strpos('0123456789abcdef', hx[15 - (j // 4)]) - 1)
                             >> (j % 4)) & 1) = 1
                      THEN 1 ELSE -1 END) AS vote
      FROM h, generate_series(0, 59) AS g(j)
      GROUP BY doc_id, j),
    s AS (
      SELECT doc_id,
             SUM(CASE WHEN vote > 0 THEN 1::BIGINT << j ELSE 0::BIGINT END)::BIGINT
               AS simhash
      FROM v GROUP BY doc_id)
    SELECT d.doc_id, coalesce(s.simhash, 0)::BIGINT AS simhash
    FROM d LEFT JOIN s USING (doc_id)
    """


@register("dedup_simhash", _SIMHASH_MD5_SQL)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints in the md5-portable mode (60-bit token hashes)
    so the fingerprint is value-checkable against DuckDB (graduated from
    rows-only in r1; xxhash64 stays the library's fast default)."""
    from windflow_spark.functions.dedup import simhash

    docs = _t(spark, sf_dir, "documents")
    return simhash(docs, hash_mode="md5").select("doc_id", "simhash")


def _sim_topk_lsh_sql() -> str:
    from windflow_spark.functions.similarity import md5_sign_planes_sql_values

    return f"""
    WITH planes(i, pl) AS (VALUES {md5_sign_planes_sql_values(12, 64)}),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (
      SELECT vec_id,
             SUM(CASE WHEN list_dot_product(v, pl) > 0
                      THEN 1::BIGINT << i ELSE 0::BIGINT END) AS bucket
      FROM e, planes GROUP BY vec_id),
    c AS (SELECT e.vec_id, v AS cv, bucket FROM e JOIN b USING (vec_id)),
    q AS (SELECT vec_id AS query_id, cv AS qv, bucket FROM c WHERE vec_id < 10),
    sc AS (
      SELECT q.query_id, c.vec_id,
             round(list_cosine_similarity(qv, cv), 6) AS cos_sim
      FROM c JOIN q ON c.bucket = q.bucket AND c.vec_id <> q.query_id),
    r AS (SELECT query_id, vec_id, cos_sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, vec_id) AS rk
          FROM sc)
    SELECT query_id, vec_id, cos_sim, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 5
    """


@register("sim_topk_lsh", _sim_topk_lsh_sql())
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-k with md5-parity ±1 planes (Charikar
    sign hashes with Rademacher projections) — the oracle materializes the
    identical planes as literals, so bucket assignment and the candidate
    set match exactly (graduated from rows-only in r1; Gaussian planes stay
    the library default)."""
    from windflow_spark.functions.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_topk(emb, queries_df, k=5, plane_mode="md5-pm1")


def _sim_lsh_recall_sql() -> str:
    from windflow_spark.functions.similarity import md5_sign_planes_sql_values

    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    bf_s AS (
      SELECT qs.query_id, e.vec_id,
             round(list_cosine_similarity(qv, v), 6) AS cos_sim
      FROM e JOIN qs ON e.vec_id <> qs.query_id),
    bf AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, vec_id) AS rk
        FROM bf_s) WHERE rk <= 5),
    planes(i, pl) AS (VALUES {md5_sign_planes_sql_values(12, 64)}),
    bkt AS (
      SELECT vec_id,
             SUM(CASE WHEN list_dot_product(v, pl) > 0
                      THEN 1::BIGINT << i ELSE 0::BIGINT END) AS bucket
      FROM e, planes GROUP BY vec_id),
    cc AS (SELECT e.vec_id, v AS cv, bucket FROM e JOIN bkt USING (vec_id)),
    qq AS (SELECT vec_id AS query_id, cv AS qv2, bucket FROM cc WHERE vec_id < 10),
    ap_s AS (
      SELECT qq.query_id, cc.vec_id,
             round(list_cosine_similarity(qv2, cv), 6) AS cos_sim
      FROM cc JOIN qq ON cc.bucket = qq.bucket AND cc.vec_id <> qq.query_id),
    ap AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, vec_id) AS rk
        FROM ap_s) WHERE rk <= 5),
    h AS (SELECT bf.query_id, count(*) AS n_hits
          FROM bf JOIN ap ON bf.query_id = ap.query_id AND bf.vec_id = ap.vec_id
          GROUP BY bf.query_id),
    n AS (SELECT query_id, count(*) AS n_exact FROM bf GROUP BY query_id)
    SELECT n.query_id, coalesce(n_hits, 0)::BIGINT AS n_hits,
           coalesce(n_hits, 0)::DOUBLE / n_exact AS recall
    FROM n LEFT JOIN h USING (query_id)
    """


@register("sim_lsh_recall", _sim_lsh_recall_sql())
def sim_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximation-quality metric: per-query recall of the hyperplane-LSH
    top-5 against the exact brute-force top-5 — the measurement an ANN
    deployment tunes bucket bits against (recall@k vs candidate cost).
    Both sides are the deterministic md5-parity pipelines, so the oracle
    reproduces the recall numbers exactly."""
    bf = sim_topk_bruteforce(spark, sf_dir).select("query_id", "vec_id")
    ap = sim_topk_lsh(spark, sf_dir).select("query_id", "vec_id")
    return _recall_fold(bf, ap)


# ---------------------------------------------------------------------------
# Batch 3: remaining window physical variants, fingerprints, regex tokens,
# multimodal plumbing, skew-salted aggregation
# ---------------------------------------------------------------------------


@register("win_ffat_tumbling_1h", _WIN_TB_TUMBLING_SQL.format(LEN=US_HOUR))
def win_ffat_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ffat_Windows ≡ lift+combine associative aggregation (reference
    wf/ffat_windows.hpp:63, FlatFAT tree wf/flatfat.hpp:54). Spark's partial
    aggregation IS the lift/combine split; the O(log n) tree is an
    execution detail the state-store/hash-agg path replaces. Exercised here
    through the PipeGraph fluent facade (distinct code path from the plain
    DataFrame form)."""
    from windflow_spark.core.graph import PipeGraph

    ev = _t(spark, sf_dir, "events")
    g = PipeGraph(spark, "ffat")
    return (
        g.add_source(ev)
        .keyed_windows_tb(
            ["user_id"], "ts", US_HOUR, None,
            [F.count(F.lit(1)).alias("cnt"), _dsum(F.col("value")).alias("sum_value")],
        )
        .add_sink()
        .select("user_id", "w_start", "cnt", "sum_value")
    )


@register("win_parallel_tumbling_1h", _WIN_TB_TUMBLING_SQL.format(LEN=US_HOUR))
def win_parallel_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parallel_Windows: windows round-robin across replicas with broadcast
    input (reference wf/parallel_windows.hpp:66,194) — a pure physical
    strategy. Spark analog: an explicit round-robin repartition before the
    window aggregation; identical logical result."""
    from windflow_spark.operators.windows import tumbling_window_tb

    ev = _t(spark, sf_dir, "events").repartition(8)
    return tumbling_window_tb(
        ev, ["user_id"], "ts", US_HOUR,
        [F.count(F.lit(1)).alias("cnt"), _dsum(F.col("value")).alias("sum_value")],
    ).select("user_id", "w_start", "cnt", "sum_value")


@register(
    "doc_fingerprint",
    r"""
    SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t_wide(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower("text"), r"\s+", " ")).alias("fp"),
    )


@register(
    "text_regex_tokens",
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS n_alpha,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num
    FROM documents
    """,
)
def text_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex tokenization (alpha runs / digit runs) — JVM-side
    regexp_extract_all, no UDF."""
    docs = _t_wide(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)).cast("long").alias("n_alpha"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), 0)).cast("long").alias("n_num"),
    )


@register(
    "multimodal_decode",
    """
    SELECT doc_id AS media_id,
           CAST(64 + ('0x' || substr(md5(text), 1, 15))::BIGINT % 512 AS INT)
             AS width,
           CAST(64 + (('0x' || substr(md5(text), 1, 15))::BIGINT >> 9) % 512
                AS INT) AS height,
           CAST(3 AS INT) AS channels,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing over a derived binary column (the test
    tables ship no media, so payload = utf-8 bytes of the text): typed
    metadata JVM-side, decode via Arrow-batched mapInPandas. The stub
    decoder derives fake dims from md5 of the payload, so the oracle
    value-checks the whole decode path (graduated from rows-only in r2)."""
    from windflow_spark.functions.multimodal import attach_binary_metadata, decode_image_meta

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("payload")
    )
    meta = attach_binary_metadata(docs)
    return decode_image_meta(meta)


@register(
    "multimodal_resize",
    """
    SELECT doc_id AS media_id,
           CAST(64 + ('0x' || substr(md5(text), 1, 15))::BIGINT % 512 AS INT)
             AS width,
           CAST(64 + (('0x' || substr(md5(text), 1, 15))::BIGINT >> 9) % 512
                AS INT) AS height,
           CAST(224 AS INT) AS target_width,
           CAST(224 AS INT) AS target_height,
           CAST(224 * 224 * 3 AS BIGINT) AS resized_bytes
    FROM documents
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize-pipeline plumbing: decode (stub dims, md5-reproducible) →
    resize to a 224×224 training shape; payload rides along untouched and
    the output-size budget is what a planner needs. Real pixel work swaps
    into resize_stub when an image lib is present."""
    from windflow_spark.functions.multimodal import (
        attach_binary_metadata,
        decode_image_meta,
        resize_stub,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("payload")
    )
    decoded = decode_image_meta(attach_binary_metadata(docs))
    return resize_stub(decoded, 224, 224).select(
        "media_id", "width", "height", "target_width", "target_height", "resized_bytes"
    )


@register(
    "skew_salted_join",
    """
    SELECT c_mktsegment, count(*) AS n_orders,
           round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2)::DOUBLE AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted shuffle join — result-identical to the plain equi-join (the
    oracle proves it) while a random salt on the big side plus an exploded
    small side spreads a hot key's rows across salt_buckets tasks. The
    sibling of skew_salted_agg for the join case; use when the small side
    exceeds the broadcast budget but a key is hot."""
    from windflow_spark.operators.skew import salted_join

    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    j = salted_join(orders, cust, ["o_custkey"], salt_buckets=8)
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dsum(F.col("o_totalprice")).alias("total"),
    )


@register(
    "skew_salted_agg",
    """
    SELECT event_type, count(*) AS cnt, round(sum(CAST(value AS DECIMAL(18,6))), 2)::DOUBLE AS sum_value
    FROM events GROUP BY event_type
    """,
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation — result-identical to the plain groupBy
    (the oracle proves it) while spreading a hot key across tasks."""
    from windflow_spark.operators.skew import salted_aggregate

    ev = _t(spark, sf_dir, "events")
    return salted_aggregate(
        ev,
        key_cols=["event_type"],
        partial_aggs=[F.count(F.lit(1)).alias("_c"), F.sum(F.col("value").cast("decimal(18,6)")).alias("_s")],
        final_aggs=[F.sum("_c").alias("cnt"), F.round(F.sum("_s"), 2).cast("double").alias("sum_value")],
        salt_buckets=16,
    ).select("event_type", "cnt", "sum_value")


# ---------------------------------------------------------------------------
# Batch 4: deeper relational coverage (TPC-H Q4/Q7/Q14/Q18 analogs, HAVING,
# pivot)
# ---------------------------------------------------------------------------


@register(
    "q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4. r5: the correlated EXISTS (any line shipped after the
    order date) is algebraically max(l_shipdate) > o_orderdate per
    orderkey — a map-side-combinable agg plus a pure equi-join, instead of
    a semi-join whose residual date condition forced AQE to broadcast-build
    the whole fact side (sf1 A/B: 3.31 s → 2.33 s median, and at real
    scale the orderkey-sized agg output replaces a fact-table hash build).
    """
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("_max_ship"))
    )
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (F.col("_max_ship") > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "q7_nation_volume",
    """
    SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
           round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2)::DOUBLE AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE n1.n_name < n2.n_name
    GROUP BY cust_nation, supp_nation
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("cust_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), supp.s_nationkey == F.col("n2_key"))
        .filter(F.col("cust_nation") < F.col("supp_nation"))
        .groupBy("cust_nation", "supp_nation")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@register(
    "q14_promo_revenue",
    """
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(0.0)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(F.round(100.0 * F.sum(promo) / F.sum(disc), 4).alias("promo_pct"))
    )


@register(
    "q18_large_orders",
    """
    SELECT o_orderkey, o_totalprice, round(sum(l_quantity), 2) AS total_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderkey, o_totalprice
    HAVING sum(l_quantity) > 300
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # HAVING on the raw double sum is cross-engine exact: l_quantity is
    # integral, so the sums carry no FP error
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.sum("l_quantity").alias("_q"),
        )
        .filter(F.col("_q") > 300)
        .select("o_orderkey", "o_totalprice", _r2(F.col("_q")).alias("total_qty"))
    )


@register(
    "having_segment_stats",
    """
    SELECT c_mktsegment, round(avg(c_acctbal), 2) AS avg_bal, count(*) AS n
    FROM customer GROUP BY c_mktsegment HAVING count(*) > 100
    """,
)
def having_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment")
        .agg(_r2(F.avg("c_acctbal")).alias("avg_bal"), F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 100)
    )


@register(
    "pivot_event_values",
    """
    SELECT user_id,
           round(sum(CAST(CASE WHEN event_type = 'click'    THEN value ELSE 0.0 END AS DECIMAL(18,6))), 2)::DOUBLE AS click_sum,
           round(sum(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END AS DECIMAL(18,6))), 2)::DOUBLE AS purchase_sum,
           round(sum(CAST(CASE WHEN event_type = 'view'     THEN value ELSE 0.0 END AS DECIMAL(18,6))), 2)::DOUBLE AS view_sum
    FROM events GROUP BY user_id
    """,
)
def pivot_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "purchase", "view"])
        .agg(F.sum(F.col("value").cast("decimal(18,6)")))
    )
    return out.select(
        "user_id",
        F.round(F.coalesce(F.col("click"), F.lit(0).cast("decimal(18,6)")), 2).cast("double").alias("click_sum"),
        F.round(F.coalesce(F.col("purchase"), F.lit(0).cast("decimal(18,6)")), 2).cast("double").alias("purchase_sum"),
        F.round(F.coalesce(F.col("view"), F.lit(0).cast("decimal(18,6)")), 2).cast("double").alias("view_sum"),
    )


@register(
    "win_nonincremental_median",
    f"""
    SELECT user_id, make_timestamp(b) AS w_start,
           round(median(value), 4) AS med_value, count(*) AS cnt
    FROM (SELECT user_id, epoch_us(ts) - epoch_us(ts) % {US_HOUR} AS b, value
          FROM events) t
    GROUP BY user_id, b
    """,
)
def win_nonincremental_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-incremental window UDF (whole-buffer form, reference
    wf/builders.hpp:800-805): the median needs the full window content —
    computed with the BATCHED form (thousands of complete windows per Arrow
    batch, vectorized pandas groupby; the naive per-group applyInPandas
    measured 85 s vs ~1 s at sf0.1)."""
    from windflow_spark.operators.windows import non_incremental_window_tb_batched

    ev = _t(spark, sf_dir, "events")

    def medians(pdf, group_cols):
        g = pdf.groupby(group_cols, as_index=False)["value"]
        out = g.median().rename(columns={"value": "med_value"})
        out["med_value"] = out["med_value"].round(4)
        out["cnt"] = g.count()["value"]
        return out[["user_id", "_wid", "med_value", "cnt"]]

    out = non_incremental_window_tb_batched(
        ev, ["user_id"], "ts", US_HOUR, medians,
        "user_id long, _wid long, med_value double, cnt long",
    )
    return out.select(
        "user_id",
        F.timestamp_micros(F.col("_wid") * F.lit(US_HOUR)).alias("w_start"),
        "med_value",
        "cnt",
    )



# ---------------------------------------------------------------------------
# Batch 5: adapted TPC-H relational completeness (schemas lack partsupp /
# commitdate / shipmode / phone, so q2/q11/q12/q21 have no faithful form;
# q8/q9/q10/q13/q15/q16/q17/q19/q20/q22 below are adapted to the driver's
# reduced star schema) + IVF similarity ops.
# ---------------------------------------------------------------------------


@register(
    "q8_market_share",
    """
    WITH base AS (
      SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS rev,
             sn.n_name AS supp_nation
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region   ON cn.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE r_name = 'ASIA')
    SELECT o_year,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                 / CAST(sum(rev) AS DOUBLE), 6) AS mkt_share
    FROM base GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 adapted: NATION_3's share of supplier revenue to ASIA
    customers, by order year. Dims (region/nation) broadcast; the one
    shuffle is lineitem⋈orders on orderkey."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    s = _t(spark, sf_dir, "supplier")
    cn = n.alias("cn")
    sn = n.alias("sn")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    zero = F.lit(0).cast("decimal(18,6)")
    base = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn.n_nationkey"))
        .join(F.broadcast(r), F.col("cn.n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn.n_nationkey"))
        .filter(F.col("r_name") == "ASIA")
        .select(
            F.year("o_orderdate").alias("o_year"),
            rev.alias("rev"),
            F.col("sn.n_name").alias("supp_nation"),
        )
    )
    num = F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("rev")).otherwise(zero))
    den = F.sum(F.col("rev"))
    return base.groupBy("o_year").agg(
        F.round(num.cast("double") / den.cast("double"), 6).alias("mkt_share")
    )


@register(
    "q9_product_profit",
    """
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
           round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2)::DOUBLE AS profit
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN orders   ON l_orderkey = o_orderkey
    WHERE p_name LIKE '%widget%'
    GROUP BY n_name, o_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 adapted (no partsupp → profit is discounted revenue) —
    widget-part profit by supplier nation and year. part/supplier/nation
    broadcast; filter on p_name prunes lineitem before the orders shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(_dsum(disc).alias("profit"))
    )


@register(
    "q10_returned_items",
    """
    WITH g AS (
      SELECT c_custkey, c_name, c_acctbal, n_name,
             sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS rev
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
      GROUP BY c_custkey, c_name, c_acctbal, n_name)
    SELECT c_custkey, c_name, round(CAST(rev AS DOUBLE), 2) AS revenue, c_acctbal, n_name
    FROM (SELECT *, row_number() OVER (ORDER BY rev DESC, c_custkey) AS rk FROM g)
    WHERE rk <= 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by returned-item revenue. Ranking happens
    on the exact decimal sum (tie-break c_custkey), so the top-20 set is
    bit-identical across engines; only the emitted value is rounded."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)"))
    g = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(rev.alias("_rev"))
    )
    # top-20 via orderBy+limit: Spark plans TakeOrderedAndProject (per-
    # partition top-k + driver merge of 20-row heads) — no single-partition
    # global window, so this survives a customer dimension of any size.
    return (
        g.orderBy(F.col("_rev").desc(), F.col("c_custkey"))
        .limit(20)
        .select(
            "c_custkey", "c_name",
            F.round(F.col("_rev").cast("double"), 2).alias("revenue"),
            "c_acctbal", "n_name",
        )
    )


@register(
    "q13_customer_distribution",
    """
    WITH co AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey)
    SELECT c_count, count(*) AS custdist FROM co GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: order-count histogram. Two aggregations; the second input
    is one row per customer, so the re-shuffle is tiny."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    co = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return co.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q15_top_supplier",
    """
    WITH r AS (
      SELECT l_suppkey,
             sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS total
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, round(CAST(total AS DOUBLE), 2) AS total_revenue
    FROM r JOIN supplier ON l_suppkey = s_suppkey
    WHERE total = (SELECT max(total) FROM r)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with max quarterly revenue. The max is taken
    over exact decimals (window max avoids a second scan); supplier dim
    broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    r = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")).alias("_total"))
    )
    # global max as a broadcast 1-row join, not an unpartitioned window —
    # the per-supplier aggregate stays distributed at any supplier count.
    mx = r.agg(F.max("_total").alias("_mx"))
    return (
        r.join(F.broadcast(mx), r["_total"] == mx["_mx"])
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.round(F.col("_total").cast("double"), 2).alias("total_revenue"))
    )


@register(
    "q16_part_supplier_variety",
    """
    SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#2' AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 adapted (no partsupp → supplier variety observed from
    lineitem). The distinct-aggregate is restated as pre-aggregate-to-
    distinct-pairs + plain count (the q21 rewrite): count_distinct planned
    an Expand that doubled the joined fact rows into the shuffle, while the
    distinct collapses map-side to one row per (brand,type,size,suppkey)."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#2")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45))
    )
    li = _t(spark, sf_dir, "lineitem")
    pairs = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select("p_brand", "p_type", "p_size", "l_suppkey")
        .distinct()
    )
    return pairs.groupBy("p_brand", "p_type", "p_size").agg(
        F.count(F.lit(1)).alias("supplier_cnt")
    )


@register(
    "q17_small_qty_revenue",
    """
    WITH pa AS (
      SELECT l_partkey AS pk, sum(l_quantity) AS sq, count(*) AS cnt
      FROM lineitem GROUP BY l_partkey)
    SELECT round(sum(CAST(l_extendedprice AS DECIMAL(18,6))) / 7.0, 2)::DOUBLE AS avg_yearly
    FROM lineitem JOIN pa ON l_partkey = pk
    WHERE l_quantity * cnt * 5 < sq
    """,
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue of below-20%-of-avg-quantity lineitems. The avg
    comparison is restated as integer-exact `qty*cnt*5 < sum_qty` (quantities
    are integral doubles → every product/sum is exactly representable), so
    the row set is engine-independent without decimal avg gymnastics."""
    li = _t(spark, sf_dir, "lineitem")
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("l_quantity").alias("sq"), F.count(F.lit(1)).alias("cnt")
    )
    j = li.join(pa, F.col("l_partkey") == F.col("pk")).filter(
        F.col("l_quantity") * F.col("cnt") * 5 < F.col("sq")
    )
    return j.agg(
        (F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,6)")) / 7.0, 2))
        .cast("double")
        .alias("avg_yearly")
    )


@register(
    "q19_discounted_revenue",
    """
    SELECT round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2)::DOUBLE AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#11' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
       OR (p_brand = 'Brand#22' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
       OR (p_brand = 'Brand#15' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)
    """,
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: OR-of-ANDs predicate across fact and dim columns — the
    classic disjunctive-pushdown case. Part is broadcast; Catalyst pushes
    the common `p_brand IN (...)` residual into the dim scan."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    cond = (
        ((F.col("p_brand") == "Brand#11") & q.between(1, 11) & sz.between(1, 5))
        | ((F.col("p_brand") == "Brand#22") & q.between(10, 20) & sz.between(1, 10))
        | ((F.col("p_brand") == "Brand#15") & q.between(20, 30) & sz.between(1, 15))
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@register(
    "q20_promo_suppliers",
    """
    WITH sq AS (
      SELECT l_suppkey, sum(l_quantity) AS qty
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_name LIKE 'red%' AND year(l_shipdate) = 1997
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, qty
    FROM sq JOIN supplier ON l_suppkey = s_suppkey
    WHERE qty > 100
    """,
)
def q20_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 adapted (no partsupp): suppliers who shipped >100 units of
    red parts in 1997. Quantity sums are integral-double exact."""
    li = _t(spark, sf_dir, "lineitem").filter(_in_year("l_shipdate", 1997))
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    s = _t(spark, sf_dir, "supplier")
    sq = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 100)
    )
    return sq.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey")).select(
        "s_suppkey", "s_name", "qty"
    )


@register(
    "q22_idle_customers",
    """
    SELECT n_name, count(*) AS numcust,
           round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2)::DOUBLE AS totacctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > 5000.0
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-06-01')
    GROUP BY n_name
    """,
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 adapted (no phone column → fixed acctbal threshold; every
    customer has SOME order in this data, so "idle" = no order since
    2000-06-01): well-funded lapsed customers per nation. Anti-join against
    the date-filtered orders side; nation broadcast."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000.0)
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-06-01").cast("timestamp")
    )
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


@register(
    "sim_topk_ivf",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, label, v AS qv FROM e WHERE vec_id < 10),
    s AS (SELECT q.query_id, e.vec_id,
                 round(list_cosine_similarity(qv, e.v), 6) AS cos_sim
          FROM e JOIN q ON e.label = q.label AND e.vec_id <> q.query_id),
    r AS (SELECT query_id, vec_id, cos_sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, vec_id) AS rk
          FROM s)
    SELECT query_id, vec_id, cos_sim, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 5
    """,
)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k, IVF form: the `label` column is the coarse-quantizer
    assignment (inverted list id); each query probes only its own list."""
    from windflow_spark.functions.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "label", "embedding"
    )
    return ivf_topk(emb, queries_df, k=5)


@register(
    "sim_ivf_recall",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    qs AS (SELECT vec_id AS query_id, label, v AS qv FROM e WHERE vec_id < 10),
    bf_s AS (
      SELECT qs.query_id, e.vec_id,
             round(list_cosine_similarity(qv, e.v), 6) AS cos_sim
      FROM e JOIN qs ON e.vec_id <> qs.query_id),
    bf AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, vec_id) AS rk
        FROM bf_s) WHERE rk <= 5),
    iv_s AS (
      SELECT qs.query_id, e.vec_id,
             round(list_cosine_similarity(qv, e.v), 6) AS cos_sim
      FROM e JOIN qs ON e.label = qs.label AND e.vec_id <> qs.query_id),
    iv AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, vec_id) AS rk
        FROM iv_s) WHERE rk <= 5),
    h AS (SELECT bf.query_id, count(*) AS n_hits
          FROM bf JOIN iv ON bf.query_id = iv.query_id AND bf.vec_id = iv.vec_id
          GROUP BY bf.query_id),
    n AS (SELECT query_id, count(*) AS n_exact FROM bf GROUP BY query_id)
    SELECT n.query_id, coalesce(n_hits, 0)::BIGINT AS n_hits,
           coalesce(n_hits, 0)::DOUBLE / n_exact AS recall
    FROM n LEFT JOIN h USING (query_id)
    """,
)
def sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of the IVF path against the exact brute-force top-5 — the
    sibling of sim_lsh_recall for the inverted-list variant (quantifies
    what single-probe IVF loses at the list boundary)."""
    bf = sim_topk_bruteforce(spark, sf_dir).select("query_id", "vec_id")
    iv = sim_topk_ivf(spark, sf_dir).select("query_id", "vec_id")
    # k x Q-bounded frames — broadcast like sim_lsh_recall
    return _recall_fold(bf, iv)


_IVF_MULTIPROBE_SQL = """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    cd AS (
      SELECT label, u.i AS dim, round(avg(v[u.i]), 6) AS av
      FROM e, unnest(generate_series(1, len(v))) AS u(i)
      GROUP BY label, u.i),
    cent AS (SELECT label, list(av ORDER BY dim) AS cv FROM cd GROUP BY label),
    pr AS (
      SELECT query_id, label FROM (
        SELECT qs.query_id, cent.label,
               row_number() OVER (PARTITION BY qs.query_id
                  ORDER BY round(list_cosine_similarity(qv, cv), 6) DESC,
                           cent.label) AS prk
        FROM qs CROSS JOIN cent) WHERE prk <= 2),
    s AS (
      SELECT qs.query_id, e.vec_id,
             round(list_cosine_similarity(qv, e.v), 6) AS cos_sim
      FROM pr JOIN qs USING (query_id)
           JOIN e ON e.label = pr.label AND e.vec_id <> qs.query_id),
    r AS (SELECT query_id, vec_id, cos_sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, vec_id) AS rk
          FROM s)
    SELECT query_id, vec_id, cos_sim, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 5
"""


@register("sim_topk_ivf_multiprobe", _IVF_MULTIPROBE_SQL)
def sim_topk_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with multi-probe (nprobe=2): each query ranks the inverted
    lists by centroid cosine and scans its two nearest lists — the FAISS
    query path; recovers neighbors that single-probe loses at the list
    boundary."""
    from windflow_spark.functions.similarity import ivf_topk_multiprobe

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk_multiprobe(emb, queries_df, k=5, nprobe=2)


@register(
    "sim_ivf_multiprobe_recall",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    qs AS (SELECT vec_id AS query_id, label, v AS qv FROM e WHERE vec_id < 10),
    bf_s AS (
      SELECT qs.query_id, e.vec_id,
             round(list_cosine_similarity(qv, e.v), 6) AS cos_sim
      FROM e JOIN qs ON e.vec_id <> qs.query_id),
    bf AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, vec_id) AS rk
        FROM bf_s) WHERE rk <= 5),
    cd AS (
      SELECT label, u.i AS dim, round(avg(v[u.i]), 6) AS av
      FROM e, unnest(generate_series(1, len(v))) AS u(i)
      GROUP BY label, u.i),
    cent AS (SELECT label, list(av ORDER BY dim) AS cv FROM cd GROUP BY label),
    pr AS (
      SELECT query_id, label FROM (
        SELECT qs.query_id, cent.label,
               row_number() OVER (PARTITION BY qs.query_id
                  ORDER BY round(list_cosine_similarity(qv, cv), 6) DESC,
                           cent.label) AS prk
        FROM qs CROSS JOIN cent) WHERE prk <= 2),
    mp_s AS (
      SELECT qs.query_id, e.vec_id,
             round(list_cosine_similarity(qv, e.v), 6) AS cos_sim
      FROM pr JOIN qs USING (query_id)
           JOIN e ON e.label = pr.label AND e.vec_id <> qs.query_id),
    mp AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, vec_id) AS rk
        FROM mp_s) WHERE rk <= 5),
    h AS (SELECT bf.query_id, count(*) AS n_hits
          FROM bf JOIN mp ON bf.query_id = mp.query_id AND bf.vec_id = mp.vec_id
          GROUP BY bf.query_id),
    n AS (SELECT query_id, count(*) AS n_exact FROM bf GROUP BY query_id)
    SELECT n.query_id, coalesce(n_hits, 0)::BIGINT AS n_hits,
           coalesce(n_hits, 0)::DOUBLE / n_exact AS recall
    FROM n LEFT JOIN h USING (query_id)
    """,
)
def sim_ivf_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of multi-probe IVF (nprobe=2) against the exact brute-force
    top-5 — quantifies what the second probe recovers vs sim_ivf_recall's
    single-probe baseline."""
    bf = sim_topk_bruteforce(spark, sf_dir).select("query_id", "vec_id")
    mp = sim_topk_ivf_multiprobe(spark, sf_dir).select("query_id", "vec_id")
    return _recall_fold(bf, mp)


def _km_assign_cte(out: str, cent: str) -> str:
    """Lloyd assignment CTE: every vector to its nearest centroid by
    6dp-rounded cosine, list-id tie-break (mirrors _assign_nearest_list)."""
    return f"""{out} AS (SELECT vec_id, v, bkt FROM (
      SELECT e.vec_id, e.v, c.bkt,
             row_number() OVER (PARTITION BY e.vec_id
                ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC,
                         c.bkt) AS ark
      FROM e CROSS JOIN {cent} c) WHERE ark = 1)"""


def _km_update_cte(out: str, assigned: str) -> str:
    """Lloyd update CTE: per-(list, dim) mean, 6dp-rounded (mirrors
    ivf_centroids)."""
    return f"""{out} AS (SELECT bkt, list(av ORDER BY dim) AS cv FROM (
      SELECT bkt, u.i AS dim, round(avg(v[u.i]), 6) AS av
      FROM {assigned}, unnest(generate_series(1, len(v))) AS u(i)
      GROUP BY bkt, u.i) GROUP BY bkt)"""


_KMEANS_TRAIN_CTES = f"""
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (SELECT vec_id::BIGINT AS bkt, v AS cv FROM e WHERE vec_id < 8),
    {_km_assign_cte("a1", "c0")},
    {_km_update_cte("c1", "a1")},
    {_km_assign_cte("a2", "c1")},
    {_km_update_cte("c2", "a2")}"""


_KMEANS_CTES = f"""{_KMEANS_TRAIN_CTES},
    {_km_assign_cte("af", "c2")},
    qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    qp AS (SELECT query_id, bkt, qv FROM (
      SELECT qs.query_id, c.bkt, qs.qv,
             row_number() OVER (PARTITION BY qs.query_id
                ORDER BY round(list_cosine_similarity(qs.qv, c.cv), 6) DESC,
                         c.bkt) AS prk
      FROM qs CROSS JOIN c2 c) WHERE prk <= 1),
    km_s AS (SELECT qp.query_id, af.vec_id,
                    round(list_cosine_similarity(qp.qv, af.v), 6) AS cos_sim
             FROM qp JOIN af ON af.bkt = qp.bkt AND af.vec_id <> qp.query_id),
    km AS (SELECT query_id, vec_id, cos_sim,
                  CAST(row_number() OVER (PARTITION BY query_id
                         ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rk
           FROM km_s)"""


@register(
    "sim_topk_ivf_kmeans",
    f"""
    WITH {_KMEANS_CTES}
    SELECT query_id, vec_id, cos_sim, rk FROM km WHERE rk <= 5
    """,
)
def sim_topk_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over a TRAINED coarse quantizer: 2 Lloyd iterations of
    distributed k-means (deterministic init = first 8 vectors, 6dp-rounded
    codebook per iteration), corpus assigned to the learned inverted lists,
    single-probe query scan — the full FAISS IVF train/assign/probe path
    (the label-bucket ivf_topk trusts a pre-assigned list instead)."""
    from windflow_spark.functions.similarity import ivf_topk_kmeans

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk_kmeans(
        emb, queries_df, k=5, n_lists=8, iters=2, nprobe=1, cache_key=sf_dir
    )


@register(
    "sim_ivf_kmeans_recall",
    f"""
    WITH {_KMEANS_CTES},
    bf_s AS (
      SELECT qs.query_id, e.vec_id,
             round(list_cosine_similarity(qv, e.v), 6) AS cos_sim
      FROM e JOIN qs ON e.vec_id <> qs.query_id),
    bf AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, vec_id) AS rk
        FROM bf_s) WHERE rk <= 5),
    h AS (SELECT bf.query_id, count(*) AS n_hits
          FROM bf JOIN km ON bf.query_id = km.query_id
                         AND bf.vec_id = km.vec_id AND km.rk <= 5
          GROUP BY bf.query_id),
    n AS (SELECT query_id, count(*) AS n_exact FROM bf GROUP BY query_id)
    SELECT n.query_id, coalesce(n_hits, 0)::BIGINT AS n_hits,
           coalesce(n_hits, 0)::DOUBLE / n_exact AS recall
    FROM n LEFT JOIN h USING (query_id)
    """,
)
def sim_ivf_kmeans_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of the trained-quantizer IVF against the exact brute-force
    top-5 — how much a LEARNED codebook recovers vs the label-assigned
    single-probe baseline (sim_ivf_recall)."""
    bf = sim_topk_bruteforce(spark, sf_dir).select("query_id", "vec_id")
    km = sim_topk_ivf_kmeans(spark, sf_dir).select("query_id", "vec_id")
    return _recall_fold(bf, km)


@register(
    "cluster_embeddings_kmeans",
    f"""
    WITH {_KMEANS_TRAIN_CTES},
    afs AS (SELECT vec_id, bkt, cs FROM (
      SELECT e.vec_id, c.bkt,
             round(list_cosine_similarity(e.v, c.cv), 6) AS cs,
             row_number() OVER (PARTITION BY e.vec_id
                ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC,
                         c.bkt) AS ark
      FROM e CROSS JOIN c2 c) WHERE ark = 1)
    SELECT bkt AS cluster_id, CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(vec_id) AS BIGINT) AS min_vec_id,
           round(avg(cs), 6) AS avg_cos
    FROM afs GROUP BY bkt
    """,
)
def cluster_embeddings_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus clustering over the trained codebook: every embedding
    assigned to its learned k-means cluster, reported as cluster sizes +
    mean cosine-to-centroid (intra-cluster cohesion) — the corpus
    organization / topic-bucketing pass of a data pipeline, reusing the
    same 2-iteration Lloyd training as sim_topk_ivf_kmeans."""
    from windflow_spark.functions.similarity import (
        _assign_nearest_list,
        train_codebook,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cb = train_codebook(emb, cache_key=sf_dir, n_lists=8, iters=2)
    assigned = _assign_nearest_list(emb, cb, "vec_id", keep_score=True)
    return assigned.groupBy(F.col("_bkt").alias("cluster_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.min("vec_id").cast("long").alias("min_vec_id"),
        F.round(F.avg("_cos"), 6).alias("avg_cos"),
    )


@register(
    "dedup_embedding_cosine",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.30
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within IVF buckets (threshold 0.30 —
    the synthetic embeddings top out at ~0.47 in-bucket cosine, so a
    realistic 0.9 dedup threshold would select nothing; the candidate-join
    shape is what scales)."""
    from windflow_spark.functions.similarity import embedding_cosine_neardup

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_cosine_neardup(emb, threshold=0.30)


@register(
    "multimodal_frame_sample",
    """
    SELECT doc_id AS media_id, CAST(u.f AS BIGINT) AS frame_idx
    FROM documents,
         unnest(generate_series(0,
             greatest(CAST(octet_length(encode(text)) // 100 AS BIGINT) - 1, 0), 2)) AS u(f)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing over the derived binary column: a fake
    frame count from payload size, every-2nd frame exploded. explode() of a
    sequence keeps generation partition-parallel — at 100 TB the frame rows
    never pass through the driver and fan out ~n_frames× per media row."""
    from windflow_spark.functions.multimodal import attach_binary_metadata, frame_sample_stub

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("payload")
    )
    meta = attach_binary_metadata(docs)
    sampled = frame_sample_stub(meta, every_n=2, bytes_per_frame=100)
    return sampled.select("media_id", F.col("frame_idx").cast("long").alias("frame_idx"))


@register(
    "asof_join_prev_purchase",
    """
    SELECT a.event_id, a.user_id, a.ts,
           b.event_id AS b_event_id, b.value AS b_value
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') a
    ASOF LEFT JOIN
         (SELECT user_id, ts, min(event_id) AS event_id,
                 arg_min(value, event_id) AS value
          FROM events WHERE event_type = 'purchase'
          GROUP BY user_id, ts) b
    ON a.user_id = b.user_id AND b.ts <= a.ts
    """,
)
def asof_join_prev_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click matched with the user's latest purchase at or
    before it (DuckDB native ASOF JOIN is the oracle). Union + forward-fill
    — one shuffle, |A|+|B| intermediate rows, no range-join explosion.
    The purchase side is deduped on (user_id, ts) keeping min event_id on
    BOTH engines first: native ASOF tie-breaks on equal ts are
    implementation-defined (r7 ADVICE), so the oracle comparison must not
    depend on them."""
    from windflow_spark.operators.asof_join import asof_join_backward

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.min("event_id").alias("event_id"),
            F.min_by("value", "event_id").alias("value"),
        )
    )
    return asof_join_backward(
        clicks, purchases, ["user_id"], "ts", "ts", ["event_id", "value"]
    ).select("event_id", "user_id", "ts", "b_event_id", "b_value")


@register(
    "text_normalize",
    r"""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                               '\s+', ' ', 'g')) AS norm_text
    FROM documents
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (lowercase, strip punctuation, collapse
    whitespace) — the first stage of every dedup/quality pipeline, pure
    column expressions at scan speed."""
    from windflow_spark.functions.text import normalize_text

    docs = _t_wide(spark, sf_dir, "documents")
    return docs.select("doc_id", normalize_text("text").alias("norm_text"))


@register(
    "agg_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
           round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2)::DOUBLE AS rev
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither cube nor rollup): per-status,
    per-priority, and grand-total rows in one pass."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS rev
        FROM _orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "unpivot_text_stats",
    """
    SELECT doc_id, metric, CAST(val AS DOUBLE) AS val
    FROM (SELECT doc_id,
                 CAST(length(text) AS DOUBLE) AS n_chars,
                 CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                      AS DOUBLE) AS n_tokens
          FROM documents)
    UNPIVOT (val FOR metric IN (n_chars, n_tokens))
    """,
)
def unpivot_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): wide per-doc stats to long (doc_id, metric, val) —
    the inverse of pivot_event_values; stack() stays JVM-side."""
    from windflow_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.length("text").cast("double").alias("n_chars"),
        F.size(tokens("text")).cast("double").alias("n_tokens"),
    )
    return docs.unpivot("doc_id", ["n_chars", "n_tokens"], "metric", "val")


@register(
    "dedup_clusters",
    """
    WITH RECURSIVE d AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents),
    b AS (
      SELECT doc_id, toks,
             concat_ws(' ', toks[1], toks[2], toks[3], toks[4], toks[5]) AS bucket
      FROM d WHERE len(toks) >= 5),
    sh AS (
      SELECT doc_id, bucket,
             list_distinct(list_transform(generate_series(1, len(toks) - 2),
                 i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS s
      FROM b),
    p AS (
      SELECT a.doc_id AS id_a, b2.doc_id AS id_b
      FROM sh a JOIN sh b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id
      WHERE len(list_intersect(a.s, b2.s))::DOUBLE
            / len(list_distinct(list_concat(a.s, b2.s))) >= 0.4),
    und AS (SELECT id_a AS src, id_b AS dst FROM p
            UNION SELECT id_b, id_a FROM p),
    reach AS (
      SELECT DISTINCT src, src AS dst FROM und
      UNION
      SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src)
    SELECT src AS id, min(dst) AS component FROM reach GROUP BY src
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: n-gram-Jaccard pairs (threshold 0.4) clustered by
    iterative min-label connected components (oracle: DuckDB recursive-CTE
    reachability — component = min reachable doc_id). The end-to-end dedup
    pipeline: candidates → verify → cluster → keep min id per cluster."""
    from windflow_spark.functions.dedup import connected_components

    pairs = dedup_ngram_jaccard(spark, sf_dir).filter(F.col("jaccard") >= 0.4)
    return connected_components(pairs)


@register(
    "band_join_similar_value",
    """
    SELECT a.event_id AS id_a, b.event_id AS id_b, a.value AS val_a, b.value AS val_b
    FROM (SELECT * FROM events WHERE event_type = 'purchase') a
    JOIN (SELECT * FROM events WHERE event_type = 'click') b
      ON a.user_id = b.user_id
     AND b.value BETWEEN a.value - 0.5 AND a.value + 0.5
    """,
)
def band_join_similar_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric band join: per user, click events whose value is within
    ±0.5 of a purchase's value — interval-join semantics on a non-time
    ordered column."""
    from windflow_spark.operators.interval_join import band_join

    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select("user_id", "event_id", "value")
    b = ev.filter(F.col("event_type") == "click").select("user_id", "event_id", "value")
    return band_join(a, b, ["user_id"], "value", "value", -0.5, 0.5).select(
        F.col("a.event_id").alias("id_a"),
        F.col("b.event_id").alias("id_b"),
        F.col("a.value").alias("val_a"),
        F.col("b.value").alias("val_b"),
    )


@register(
    "rollup_hierarchy_hourly_daily",
    """
    WITH minutely AS (
      SELECT user_id, time_bucket(INTERVAL 1 MINUTE, ts) AS bkt,
             count(*) AS cnt, sum(CAST(value AS DECIMAL(18,6))) AS sv
      FROM events GROUP BY 1, 2),
    hourly AS (
      SELECT user_id, time_bucket(INTERVAL 1 HOUR, bkt) AS bkt,
             CAST(sum(cnt) AS BIGINT) AS cnt, sum(sv) AS sv
      FROM minutely GROUP BY 1, 2)
    SELECT user_id, time_bucket(INTERVAL 1 DAY, bkt) AS bkt,
           CAST(sum(cnt) AS BIGINT) AS cnt, round(sum(sv), 2)::DOUBLE AS sv
    FROM hourly GROUP BY 1, 2
    """,
)
def rollup_hierarchy_hourly_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate hierarchy: minute → hour → day,
    each level aggregated FROM the previous level's partials, never
    rescanning raw events (at 100 TB the raw scan happens once; coarser
    rollups read ~60× less each). The oracle computes the same three-level
    cascade; value sums accumulate as DECIMAL(18,6) at every level (the
    _dsum discipline) so the cascade is summation-order independent.
    The r8/r9 driver-red was NOT float ordering: DuckDB sum(BIGINT)
    returns HUGEINT, which pandas renders as float64 (8.0) while Spark
    emits int64 (8) — the oracle now CASTs both rollup levels' sum(cnt)
    back to BIGINT so the dtypes agree (r10, per judge diagnosis)."""
    def bucket(col: str, n_us: int):
        us = F.unix_micros(F.col(col))
        return F.timestamp_micros(us - us % F.lit(n_us))

    ev = _t(spark, sf_dir, "events")
    minutely = ev.groupBy("user_id", bucket("ts", 60_000_000).alias("bkt")).agg(
        F.count(F.lit(1)).alias("cnt"), F.sum(F.col("value").cast("decimal(18,6)")).alias("sv")
    )
    hourly = minutely.groupBy("user_id", bucket("bkt", 3_600_000_000).alias("bkt")).agg(
        F.sum("cnt").alias("cnt"), F.sum("sv").alias("sv")
    )
    return hourly.groupBy("user_id", bucket("bkt", 86_400_000_000).alias("bkt")).agg(
        F.sum("cnt").alias("cnt"), F.round(F.sum("sv"), 2).cast("double").alias("sv")
    )


@register(
    "ts_gap_fill_interpolate",
    """
    WITH obs AS (
      SELECT user_id, epoch_us(ts) - epoch_us(ts) % 7200000000 AS t, min(value) AS v
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
    bounds AS (SELECT user_id, min(t) AS lo, max(t) AS hi FROM obs GROUP BY 1),
    spine AS (SELECT user_id, unnest(generate_series(lo, hi, 7200000000)) AS t
              FROM bounds),
    j AS (SELECT s.user_id, s.t, o.v
          FROM spine s LEFT JOIN obs o ON s.user_id = o.user_id AND s.t = o.t),
    f AS (SELECT user_id, t, v,
            last_value(v IGNORE NULLS) OVER wp AS pv,
            last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER wp AS pt,
            first_value(v IGNORE NULLS) OVER wn AS nv,
            first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER wn AS nt
          FROM j
          WINDOW wp AS (PARTITION BY user_id ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 wn AS (PARTITION BY user_id ORDER BY t
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT user_id, make_timestamp(t) AS ts,
           CASE WHEN v IS NOT NULL THEN v
                WHEN pv IS NOT NULL AND nv IS NOT NULL AND nt <> pt
                  THEN pv + (nv - pv) * (t - pt) / (nt - pt)
                WHEN pv IS NOT NULL THEN pv
                ELSE nv END AS value
    FROM f
    """,
)
def ts_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill purchases onto a 2-hour grid per user with linear
    interpolation of interior gaps — segment form (lead over observations,
    explode to grid points); the oracle is the independent spine+window
    formulation, so the two derivations cross-check each other."""
    from windflow_spark.operators.timeseries import gap_fill_interpolate

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    return gap_fill_interpolate(ev, ["user_id"], "ts", "value", 7_200_000_000)


@register(
    "ts_zscore_anomaly",
    f"""
    WITH hourly AS (
      SELECT user_id,
             CAST(epoch_us(ts) // {US_HOUR} AS BIGINT) AS bidx,
             count(value) AS cnt
      FROM events GROUP BY 1, 2),
    wz AS (
      SELECT user_id, bidx, cnt,
             avg(cnt) OVER w AS m,
             stddev_samp(cnt) OVER w AS sd,
             count(cnt) OVER w AS n
      FROM hourly
      WINDOW w AS (PARTITION BY user_id ORDER BY bidx
                   RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING))
    SELECT user_id, make_timestamp(bidx * {US_HOUR}) AS bucket_start, cnt,
           CASE WHEN n >= 12 AND sd > 0
                THEN round((cnt - m) / sd, 2) END AS zscore
    FROM wz
    """,
)
def ts_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h z-score per user on hourly event counts — the
    standard metrics anomaly signal; RANGE frame on the hour index so
    calendar gaps shrink the sample instead of stretching the window."""
    from windflow_spark.operators.timeseries import rolling_zscore

    ev = _t(spark, sf_dir, "events")
    return rolling_zscore(
        ev, ["user_id"], "ts", "value", bucket_us=US_HOUR, lookback=24, min_periods=12
    )


@register(
    "split_train_eval",
    """
    SELECT split, count(*) AS n_docs, min(doc_id) AS min_id
    FROM (SELECT doc_id,
                 CASE WHEN ('0x' || substr(md5(text), 1, 8))::UBIGINT % 100 < 90
                      THEN 'train' ELSE 'eval' END AS split
          FROM documents)
    GROUP BY split
    """,
)
def split_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash 90/10 split (md5 is engine-portable);
    summarized per split for the oracle check."""
    from windflow_spark.functions.text import hash_split

    docs = hash_split(_t(spark, sf_dir, "documents"))
    return docs.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_id")
    )


_FEAT_COLS = ",\n           ".join(
    f"(('0x' || substr(md5(text || ':{i}'), 1, 15))::BIGINT % 1000) / 1000.0"
    f" AS f{i}"
    for i in range(8)
)


@register(
    "multimodal_features",
    f"""
    SELECT doc_id AS media_id,
           {_FEAT_COLS}
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extraction plumbing: fixed-width double vectors from binary
    payloads via Arrow-batched mapInPandas (stubbed net, real batch shape).
    The stub's per-slot md5 hash is oracle-reproducible and the vector is
    projected to scalar columns for value hashing (graduated from
    rows-only in r2)."""
    from windflow_spark.functions.multimodal import FEATURE_DIM, extract_features_stub

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("payload")
    )
    feats = extract_features_stub(docs)
    return feats.select(
        "media_id",
        *[F.col("features")[i].alias(f"f{i}") for i in range(FEATURE_DIM)],
    )


# ---------------------------------------------------------------------------
# Batch 4 (round 2): remaining TPC-H structures (q2/q11/q12/q21 adapted to
# the driver's schema — no partsupp/shipmode/commitdate columns exist, the
# same adaptation earlier TPC-H entries use) and training-pipeline operators
# (chunking, packing, decontamination, vocabulary, sampling, quantization).
# ---------------------------------------------------------------------------


@register(
    "q2_min_cost_supplier",
    """
    WITH cost AS (
      SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey),
    eu AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
                    JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'),
    pc AS (
      SELECT p_partkey, s_name, s_acctbal, n_name, unit_cost,
             min(unit_cost) OVER (PARTITION BY p_partkey) AS best
      FROM cost JOIN part ON l_partkey = p_partkey
                JOIN eu ON l_suppkey = s_suppkey
      WHERE p_size <= 10)
    SELECT s_acctbal, s_name, n_name, p_partkey,
           round(unit_cost, 4) AS unit_cost
    FROM pc WHERE unit_cost = best
    ORDER BY s_acctbal DESC, s_name, p_partkey LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 structure (min-cost supplier per part via correlated min)
    adapted: unit cost = min observed l_extendedprice/l_quantity per
    (part, supplier) — no partsupp table in the driver schema. The
    correlated subquery is the window-min form (one shuffle, no re-join);
    dimension chain supplier→nation→region broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    cost = li.groupBy(
        "l_partkey", "l_suppkey"
    ).agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    eu = (
        _t(spark, sf_dir, "supplier")
        .join(_t(spark, sf_dir, "nation"), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(_t(spark, sf_dir, "region"), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "EUROPE")
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 10).select("p_partkey")
    pc = (
        cost.join(part, cost.l_partkey == part.p_partkey)
        .join(eu, cost.l_suppkey == eu.s_suppkey)
        .withColumn("best", F.min("unit_cost").over(W.partitionBy("p_partkey")))
    )
    return (
        pc.filter(F.col("unit_cost") == F.col("best"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey",
            F.round("unit_cost", 4).alias("unit_cost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "q11_important_parts",
    """
    WITH v AS (
      SELECT l_partkey,
             sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6)) AS val
      FROM lineitem GROUP BY l_partkey),
    t AS (SELECT sum(val) AS tot, count(*) AS n FROM v)
    SELECT l_partkey, round(val, 2)::DOUBLE AS part_value
    FROM v, t WHERE val * n * 2 > tot * 3
    ORDER BY part_value DESC, l_partkey
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 structure (group value above a fraction of the global
    total via scalar subquery), scale-free threshold: parts worth more than
    1.5× the average part value — `2·val·n > 3·total` keeps the comparison in
    exact decimal MULTIPLICATION (decimal division rounds differently
    across engines; a fixed fraction also returns 0 rows at small SF).
    Decimal accumulation keeps values bit-stable at any parallelism (the
    _dsum rationale); the scalar total is a broadcast one-row cross join."""
    li = _t(spark, sf_dir, "lineitem")
    val = F.sum(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    )
    v = li.groupBy("l_partkey").agg(val.alias("val"))
    total = v.agg(F.sum("val").alias("_tot"), F.count(F.lit(1)).alias("_n"))
    return (
        v.crossJoin(F.broadcast(total))
        .filter(F.col("val") * F.col("_n") * F.lit(2) > F.col("_tot") * F.lit(3))
        .select(
            "l_partkey", F.round("val", 2).cast("double").alias("part_value")
        )
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


@register(
    "q12_priority_class",
    """
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE year(l_shipdate) = 1997
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 structure (conditional dual counts over a fact-dim join)
    adapted: grouped by l_returnflag instead of the absent l_shipmode."""
    li = _t(spark, sf_dir, "lineitem").filter(_in_year("l_shipdate", 1997))
    o = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q21_sole_returned_supplier",
    """
    WITH spo AS (
      SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_sup,
             count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END)
               AS n_r_sup
      FROM lineitem GROUP BY l_orderkey),
    failed AS (
      SELECT DISTINCT l.l_orderkey, l.l_suppkey
      FROM lineitem l JOIN spo ON l.l_orderkey = spo.l_orderkey
      WHERE l.l_returnflag = 'R' AND spo.n_sup >= 2 AND spo.n_r_sup = 1)
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM failed JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20
    """,
)
def q21_sole_returned_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 structure (EXISTS another supplier on the order / NOT
    EXISTS another FAILING supplier) adapted to l_returnflag='R' as the
    failure marker. Spark-first: pre-aggregate to one row per
    (order, supplier) carrying a has-R flag, then per-order counts are
    plain sums — no multi-count_distinct Expand (which doubles the fact
    rows into the shuffle), no second lineitem scan, no final distinct.

    r5: ONE keyed exchange — repartition("l_orderkey") up front satisfies
    the clustering requirement of BOTH aggs (subset partitioning) and the
    per_os⋈spo join, collapsing three exchanges into one. Map-side partial
    agg is lost, but TPC-H lineitem has ~1 line per (order, supplier), so
    partial agg barely shrank the shuffle anyway: one raw narrow shuffle
    beats three barely-reduced ones (sf1 A/B: 3.07 s → 2.30 s median)."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_returnflag")
        .repartition("l_orderkey")
    )
    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max((F.col("l_returnflag") == "R").cast("int")).alias("_has_r")
    )
    spo = per_os.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_sup"), F.sum("_has_r").alias("n_r_sup")
    )
    failed = (
        per_os.filter(F.col("_has_r") == 1)
        .join(spo, "l_orderkey")
        .filter((F.col("n_sup") >= 2) & (F.col("n_r_sup") == 1))
        .select("l_orderkey", "l_suppkey")
    )
    return (
        failed.join(
            _t(spark, sf_dir, "supplier"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@register(
    "doc_chunk_tokens",
    """
    WITH d AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents),
    c AS (
      SELECT doc_id, len(toks) AS n, toks, i
      FROM d, unnest(generate_series(0, len(toks) - 1, 40)) AS u(i)
      WHERE len(toks) >= 1)
    SELECT doc_id, CAST(i // 40 AS BIGINT) AS chunk_id,
           array_to_string(toks[i + 1 : i + 50], ' ') AS chunk_text,
           CAST(least(50, n - i) AS BIGINT) AS n_chunk_tokens
    FROM c
    """,
)
def doc_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking with overlap (50-token chunks, stride 40)."""
    from windflow_spark.functions.pipeline import chunk_documents

    return chunk_documents(_t_wide(spark, sf_dir, "documents"))


@register(
    "pack_greedy_budget",
    """
    WITH RECURSIVE d AS (
      SELECT source, doc_id,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok
      FROM documents),
    o AS (
      SELECT source, doc_id, n_tok,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM d),
    rec AS (
      SELECT source, doc_id, rn, n_tok, n_tok AS fill, 0 AS pack_id
      FROM o WHERE rn = 1
      UNION ALL
      SELECT o.source, o.doc_id, o.rn, o.n_tok,
             CASE WHEN r.fill + o.n_tok > 200 THEN o.n_tok
                  ELSE r.fill + o.n_tok END,
             CASE WHEN r.fill + o.n_tok > 200 THEN r.pack_id + 1
                  ELSE r.pack_id END
      FROM rec r JOIN o ON o.source = r.source AND o.rn = r.rn + 1)
    SELECT source, doc_id, CAST(pack_id AS BIGINT) AS pack_id FROM rec
    """,
)
def pack_greedy_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing (budget 200 tokens) per source shard; the
    sequential fill recurrence runs per-shard in applyInPandas, mirrored by
    a recursive CTE in the oracle."""
    from windflow_spark.functions.pipeline import pack_sequences_greedy
    from windflow_spark.functions.text import tokens as _tokens

    docs = _t(spark, sf_dir, "documents").select(
        "source", "doc_id", F.size(_tokens("text")).alias("n_tok")
    )
    return pack_sequences_greedy(docs)


@register(
    "decontam_eval_train_overlap",
    """
    WITH d AS (
      SELECT doc_id, text,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents),
    s AS (
      SELECT doc_id,
             CASE WHEN ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 < 90
                  THEN 'train' ELSE 'eval' END AS split,
             list_distinct(list_transform(generate_series(1, len(toks) - 7),
                 i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3],
                                toks[i+4], toks[i+5], toks[i+6], toks[i+7])))
               AS grams
      FROM d WHERE len(toks) >= 8),
    g AS (
      SELECT doc_id, split, ('0x' || substr(md5(gr), 1, 15))::BIGINT AS gh
      FROM s, unnest(grams) AS u(gr)),
    tr AS (SELECT DISTINCT gh FROM g WHERE split = 'train'),
    ev AS (SELECT doc_id, gh FROM g WHERE split = 'eval')
    SELECT ev.doc_id, CAST(count(DISTINCT ev.gh) AS BIGINT) AS n_shared_grams
    FROM ev JOIN tr USING (gh) GROUP BY ev.doc_id
    """,
)
def decontam_eval_train_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval 8-gram decontamination over the content-hash split —
    grams hashed to portable 60-bit ints before the join."""
    from windflow_spark.functions.pipeline import decontaminate_overlap

    return decontaminate_overlap(_t(spark, sf_dir, "documents"))


@register(
    "vocab_top100",
    """
    WITH c AS (
      SELECT tok AS token, count(*) AS cnt
      FROM documents,
           unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS u(tok)
      GROUP BY tok),
    r AS (SELECT token, CAST(cnt AS BIGINT) AS cnt,
                 CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT)
                   AS rk
          FROM c)
    SELECT token, cnt, rk FROM r WHERE rk <= 100
    """,
)
def vocab_top100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-100 tokens by frequency."""
    from windflow_spark.functions.pipeline import vocab_top_tokens

    return vocab_top_tokens(_t(spark, sf_dir, "documents"))


@register(
    "sample_stratified_hash",
    """
    WITH r AS (
      SELECT lang, doc_id,
             CAST(row_number() OVER (PARTITION BY lang
                                     ORDER BY md5(doc_id::VARCHAR), doc_id)
                  AS BIGINT) AS rk
      FROM documents)
    SELECT lang, doc_id, rk FROM r WHERE rk <= 10
    """,
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: 10 docs per language, ordered by
    content-addressed md5 rank (re-shard-stable, engine-portable)."""
    from windflow_spark.functions.pipeline import stratified_sample_hash

    return stratified_sample_hash(
        _t(spark, sf_dir, "documents"), ["lang"], n_per_stratum=10
    )


@register(
    "sample_token_budget",
    """
    WITH d AS (
      SELECT lang, doc_id,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS n_tokens
      FROM documents),
    c AS (
      SELECT lang, doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (
                    PARTITION BY lang
                    ORDER BY md5(doc_id::VARCHAR), doc_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM d)
    SELECT lang, doc_id, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 500
    """,
)
def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sampling: per language, documents in content-hash order
    until the running token total exceeds 500 — training mixes pin token
    counts, not document counts."""
    from windflow_spark.functions.pipeline import sample_token_budget as _stb

    return _stb(_t(spark, sf_dir, "documents"), budget=500, strata_cols=["lang"])


@register(
    "mix_sources_balanced",
    """
    WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_total
               FROM documents GROUP BY source),
    m AS (SELECT source, n_total, MIN(n_total) OVER () AS min_cnt FROM c)
    SELECT d.source, m.n_total,
           CAST(SUM(CASE WHEN ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))
                              ::UBIGINT % 1000000 * m.n_total
                         < m.min_cnt * 1000000
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
    FROM documents d JOIN m USING (source)
    GROUP BY d.source, m.n_total
    """,
)
def mix_sources_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced source mixing: every source downsampled to ~the smallest
    source's count by an exact-integer content-hash threshold (the equal-
    weights case of training-mix construction; no RAND(), no float rates)."""
    from windflow_spark.functions.pipeline import balanced_source_mix

    return balanced_source_mix(_t(spark, sf_dir, "documents"))


@register(
    "tfidf_top_terms",
    """
    WITH tf AS (
      SELECT doc_id, tok AS term, CAST(count(*) AS BIGINT) AS tf
      FROM documents,
           unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS u(tok)
      GROUP BY doc_id, tok),
    dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS dft FROM tf GROUP BY term),
    n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
    s AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln((n.nd + 1)::DOUBLE / (dfreq.dft + 1)), 6) AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n),
    r AS (SELECT doc_id, term, tfidf,
                 CAST(row_number() OVER (PARTITION BY doc_id
                                         ORDER BY tfidf DESC, term) AS BIGINT)
                   AS rk
          FROM s)
    SELECT doc_id, term, tfidf, rk FROM r WHERE rk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf, 6dp-rounded scores,
    term tie-break) — the classic relevance/term-weighting analytics pass."""
    from windflow_spark.functions.pipeline import tfidf_top_terms as _tfidf

    return _tfidf(_t_wide(spark, sf_dir, "documents"), top_k=3)


@register(
    "heavy_hitters_tokens",
    """
    WITH t AS (
      SELECT tok FROM documents,
           unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS u(tok)),
    c AS (SELECT tok AS token, CAST(count(*) AS BIGINT) AS cnt
          FROM t GROUP BY tok),
    w AS (SELECT token, cnt, SUM(cnt) OVER () AS n_total FROM c)
    SELECT token, cnt, TRUE AS found, TRUE AS within_bound
    FROM w WHERE cnt * 32 > n_total
    """,
)
def heavy_hitters_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra–Gries heavy hitters (capacity 32) over corpus tokens, checked
    against exact counts: output is every token GUARANTEED to be found
    (true count > N/32) with booleans asserting the sketch found it within
    the mergeable-summaries bound (est ≤ true, true − est ≤ N/33). The
    booleans — not the partition-dependent estimates — are the query
    result, so the check is deterministic under any partitioning; the
    pruning path itself is covered by a Zipf property test. At 100 TB only
    the constant-size sketch side runs; the exact side here is the oracle
    harness."""
    from pyspark.sql import Window as W

    from windflow_spark.functions.pipeline import misra_gries_summary
    from windflow_spark.functions.text import tokens as _toks

    cap = 32
    toks = _t_wide(spark, sf_dir, "documents").select(
        F.explode(_toks("text")).alias("token")
    )
    est = misra_gries_summary(toks, "token", capacity=cap)
    exact = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .withColumn("n_total", F.sum("cnt").over(W.partitionBy()))
    )
    guaranteed = exact.filter(F.col("cnt") * cap > F.col("n_total"))
    return guaranteed.join(F.broadcast(est), "token", "left").select(
        "token",
        "cnt",
        F.col("est").isNotNull().alias("found"),
        (
            F.col("est").isNotNull()
            & (F.col("est") <= F.col("cnt"))
            & ((F.col("cnt") - F.col("est")) * (cap + 1) <= F.col("n_total"))
        ).alias("within_bound"),
    )


@register(
    "lm_perplexity_scores",
    """
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks,
             CASE WHEN ('0x' || substr(md5(text), 1, 8))::UBIGINT % 100 < 90
                  THEN 'train' ELSE 'eval' END AS split
      FROM documents),
    tr_b AS (
      SELECT toks[u.i] AS w1, toks[u.i + 1] AS w2,
             CAST(count(*) AS BIGINT) AS cb
      FROM d, unnest(generate_series(1, len(toks) - 1)) AS u(i)
      WHERE split = 'train' AND len(toks) >= 2
      GROUP BY 1, 2),
    tr_u AS (
      SELECT toks[u.i] AS w1, CAST(count(*) AS BIGINT) AS cu
      FROM d, unnest(generate_series(1, len(toks))) AS u(i)
      WHERE split = 'train' GROUP BY 1),
    v AS (SELECT CAST(count(*) AS BIGINT) AS vs FROM tr_u),
    ev AS (
      SELECT doc_id, toks[u.i] AS w1, toks[u.i + 1] AS w2
      FROM d, unnest(generate_series(1, len(toks) - 1)) AS u(i)
      WHERE split = 'eval' AND len(toks) >= 2),
    s AS (
      SELECT ev.doc_id,
             -ln((coalesce(cb, 0) + 1)::DOUBLE / (coalesce(cu, 0) + vs)) AS nll
      FROM ev LEFT JOIN tr_b USING (w1, w2)
              LEFT JOIN tr_u USING (w1)
              CROSS JOIN v)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(nll), 6) AS avg_nll
    FROM s GROUP BY doc_id
    """,
)
def lm_perplexity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity scoring (CCNet/KenLM-style quality filter):
    add-one-smoothed bigram model trained on the content-hash train split,
    eval documents scored by average negative log-likelihood."""
    from windflow_spark.functions.pipeline import bigram_lm_nll

    return bigram_lm_nll(_t_wide(spark, sf_dir, "documents"))


@register(
    "dq_report_orders",
    """
    WITH a AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS v_null_orderkey,
             CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS v_null_custkey,
             CAST(sum(CASE WHEN NOT (o_orderstatus IN ('O','F','P'))
                           THEN 1 ELSE 0 END) AS BIGINT) AS v_bad_status,
             CAST(sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS v_negative_totalprice,
             CAST(sum(CASE WHEN year(o_orderdate) NOT BETWEEN 1995 AND 1999
                           THEN 1 ELSE 0 END) AS BIGINT) AS v_stale_orderdate,
             CAST(count(o_orderkey) - count(DISTINCT o_orderkey)
                  AS BIGINT) AS v_dup
      FROM orders)
    SELECT r.rule, r.n_violations, a.n AS n_rows FROM a,
      (SELECT 'null_orderkey' AS rule, v_null_orderkey AS n_violations FROM a
       UNION ALL SELECT 'null_custkey', v_null_custkey FROM a
       UNION ALL SELECT 'bad_status', v_bad_status FROM a
       UNION ALL SELECT 'negative_totalprice', v_negative_totalprice FROM a
       UNION ALL SELECT 'stale_orderdate', v_stale_orderdate FROM a
       UNION ALL SELECT 'duplicate_o_orderkey', v_dup FROM a) r
    """,
)
def dq_report_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate over orders: null / domain / range / uniqueness
    rules evaluated in one aggregation pass, one output row per rule —
    the Deequ-style validation report an ingest pipeline runs before
    publishing (the stale_orderdate freshness rule legitimately flags the
    2000+ tail of the synthetic data, so the report is non-trivial)."""
    from windflow_spark.functions.pipeline import data_quality_report

    o = _t(spark, sf_dir, "orders")
    rules = {
        "null_orderkey": F.col("o_orderkey").isNull(),
        "null_custkey": F.col("o_custkey").isNull(),
        "bad_status": ~F.col("o_orderstatus").isin("O", "F", "P"),
        "negative_totalprice": F.col("o_totalprice") < 0,
        "stale_orderdate": ~F.year("o_orderdate").between(1995, 1999),
    }
    return data_quality_report(o, rules, unique_cols=["o_orderkey"])


@register(
    "funnel_signup_purchase",
    """
    WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
    f0 AS (SELECT user_id, min(us) AS t FROM ev
           WHERE event_type = 'signup' GROUP BY user_id),
    f1 AS (SELECT ev.user_id, min(us) AS t FROM ev JOIN f0 USING (user_id)
           WHERE event_type = 'view' AND us > f0.t GROUP BY ev.user_id),
    f2 AS (SELECT ev.user_id, min(us) AS t FROM ev JOIN f1 USING (user_id)
           WHERE event_type = 'click' AND us > f1.t GROUP BY ev.user_id),
    f3 AS (SELECT ev.user_id, min(us) AS t FROM ev JOIN f2 USING (user_id)
           WHERE event_type = 'purchase' AND us > f2.t GROUP BY ev.user_id),
    u AS (
      SELECT 0 AS stage_idx, 'signup' AS stage, count(*) AS n FROM f0
      UNION ALL SELECT 1, 'view', count(*) FROM f1
      UNION ALL SELECT 2, 'click', count(*) FROM f2
      UNION ALL SELECT 3, 'purchase', count(*) FROM f3)
    SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
           CAST(n AS BIGINT) AS n_users,
           round(n::DOUBLE / max(CASE WHEN stage_idx = 0 THEN n END) OVER (),
                 6) AS pct_of_first
    FROM u
    """,
)
def funnel_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel signup → view → click → purchase: each stage binds to
    the earliest event STRICTLY AFTER the previous stage's conversion
    (first-touch semantics) — the sequence-analytics query a per-type
    distinct count cannot answer."""
    from windflow_spark.operators.behavior import funnel_stages
    from windflow_spark.operators.timeutil import event_micros

    ev = _t(spark, sf_dir, "events")
    return funnel_stages(
        ev,
        ["signup", "view", "click", "purchase"],
        us_col=event_micros(ev, "ts"),
    )


@register(
    "cohort_retention_weekly",
    f"""
    WITH ev AS (SELECT DISTINCT user_id,
                       epoch_us(ts) // {7 * US_DAY} AS wk FROM events),
    first AS (SELECT user_id, min(wk) AS cohort FROM ev GROUP BY user_id)
    SELECT first.cohort AS cohort_bucket,
           ev.wk - first.cohort AS bucket_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM ev JOIN first USING (user_id)
    GROUP BY first.cohort, ev.wk - first.cohort
    """,
)
def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-activity week,
    counted in every later week they return (offset 0 = cohort size)."""
    from windflow_spark.operators.behavior import cohort_retention
    from windflow_spark.operators.timeutil import event_micros

    ev = _t(spark, sf_dir, "events")
    return cohort_retention(ev, 7 * US_DAY, us_col=event_micros(ev, "ts"))


@register(
    "profile_documents",
    """
    WITH a AS (
      SELECT CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(count(DISTINCT lang) AS BIGINT) AS d0,
             CAST(min(lang) AS VARCHAR) AS mn0, CAST(max(lang) AS VARCHAR) AS mx0,
             CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(count(DISTINCT source) AS BIGINT) AS d1,
             CAST(min(source) AS VARCHAR) AS mn1, CAST(max(source) AS VARCHAR) AS mx1,
             CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(count(DISTINCT n_chars) AS BIGINT) AS d2,
             CAST(min(n_chars) AS VARCHAR) AS mn2, CAST(max(n_chars) AS VARCHAR) AS mx2
      FROM documents)
    SELECT 'lang' AS "column", n0 AS n_nulls, d0 AS n_distinct,
           mn0 AS min_value, mx0 AS max_value FROM a
    UNION ALL SELECT 'source', n1, d1, mn1, mx1 FROM a
    UNION ALL SELECT 'n_chars', n2, d2, mn2, mx2 FROM a
    """,
)
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of documents (nulls / exact distincts / min / max per
    column in one aggregation pass) — the ingest-time discovery sibling of
    the dq_report gate."""
    from windflow_spark.functions.pipeline import profile_columns

    return profile_columns(
        _t(spark, sf_dir, "documents"), ["lang", "source", "n_chars"]
    )


_EMB_NORM_CHAIN = " + ".join(f"v[{i}] * v[{i}]" for i in range(1, 65))
_EMB_Q = "list_transform(v, x -> CAST(trunc(127.0 * x / nrm) AS INT))"


@register(
    "embedding_norm_quantize",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v, sqrt({_EMB_NORM_CHAIN}) AS nrm FROM e)
    SELECT vec_id, round(nrm, 6) AS l2_norm,
           CAST(list_sum({_EMB_Q}) AS BIGINT) AS q_sum,
           CAST(list_min({_EMB_Q}) AS BIGINT) AS q_min,
           CAST(list_max({_EMB_Q}) AS BIGINT) AS q_max
    FROM n
    """,
)
def embedding_norm_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norm + int8 quantization summary per embedding. The oracle's
    unrolled left-associated square chain is bit-identical to the Spark
    sequential fold; truncation (not CAST rounding) keeps the int8 values
    engine-portable."""
    from windflow_spark.functions.pipeline import embedding_norm_quantize as _enq

    return _enq(_t(spark, sf_dir, "embeddings"))


@register(
    "win_tb_approx_users_1d",
    f"""
    SELECT user_bucket, w_start,
           CAST(cnt_exact AS BIGINT) AS exact_distinct,
           TRUE AS hll_within_5pct
    FROM (
      SELECT CAST(epoch_us(ts) // {US_DAY} AS BIGINT) % 4 AS user_bucket,
             make_timestamp((epoch_us(ts) // {US_DAY}) * {US_DAY}) AS w_start,
             count(DISTINCT user_id) AS cnt_exact
      FROM events
      GROUP BY 1, 2)
    """,
)
def win_tb_approx_users_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch × window composition: HLL distinct users per daily tumbling
    window (keyed by a derived bucket). At 100 TB this is THE pattern for
    streaming cardinality dashboards — fixed-size mergeable state per
    window instead of a per-window distinct shuffle. Oracle pins the exact
    count plus a boolean holding the sketch inside its error bound."""
    from windflow_spark.operators.timeutil import event_micros

    ev = _t(spark, sf_dir, "events")
    us = event_micros(ev, "ts")
    wstart = (F.floor(us / F.lit(US_DAY)) * US_DAY).cast("long")
    return (
        ev.withColumn("user_bucket", (F.floor(us / F.lit(US_DAY)) % 4).cast("long"))
        .withColumn("_ws", wstart)
        .groupBy("user_bucket", "_ws")
        .agg(
            F.count_distinct("user_id").cast("long").alias("exact_distinct"),
            F.approx_count_distinct("user_id", 0.02).alias("_hll"),
        )
        .select(
            "user_bucket",
            F.timestamp_micros(F.col("_ws")).alias("w_start"),
            "exact_distinct",
            (
                F.abs(F.col("_hll") - F.col("exact_distinct"))
                <= F.col("exact_distinct") * F.lit(0.05)
            ).alias("hll_within_5pct"),
        )
    )


@register(
    "approx_distinct_users",
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
           TRUE AS hll_within_5pct
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch capability (approx_count_distinct): at 100 TB the sketch
    replaces the exact distinct's full shuffle with fixed-size mergeable
    state. Sketch values are engine-specific, so the value-checked columns
    are the exact count plus a BOOLEAN pinning the sketch inside its error
    bound (rsd 2% → asserted within 5%) — if the sketch drifts, the gate
    fails on a false."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").cast("long").alias("exact_distinct"),
            F.approx_count_distinct("user_id", 0.02).alias("_hll"),
        )
        .select(
            "event_type",
            "exact_distinct",
            (
                F.abs(F.col("_hll") - F.col("exact_distinct"))
                <= F.col("exact_distinct") * F.lit(0.05)
            ).alias("hll_within_5pct"),
        )
        .orderBy("event_type")
    )


@register(
    "approx_quantile_value",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS exact_p50,
           TRUE AS sketch_within_rank_tol
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def approx_quantile_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch capability (percentile_approx, GK sketch): mergeable
    fixed-size state vs the exact percentile's per-group sort. The sketch's
    guarantee is on RANK (accuracy 1000 → ±0.1%), so the boolean pins the
    approx p50 between the exact p49 and p51 values; the exact median is
    value-checked against quantile_cont."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.percentile("value", F.lit(0.5)), 4).alias("exact_p50"),
            F.percentile("value", F.lit(0.49)).alias("_lo"),
            F.percentile("value", F.lit(0.51)).alias("_hi"),
            F.percentile_approx("value", F.lit(0.5), F.lit(1000)).alias("_approx"),
        )
        .select(
            "event_type",
            "exact_p50",
            (
                (F.col("_approx") >= F.col("_lo")) & (F.col("_approx") <= F.col("_hi"))
            ).alias("sketch_within_rank_tol"),
        )
        .orderBy("event_type")
    )


@register(
    "pipeline_corpus_prep",
    r"""
    WITH n AS (
      SELECT doc_id, text, lang,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '',
                                                'g'), '\s+', ' ', 'g')) AS nrm,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents),
    d AS (SELECT *, min(doc_id) OVER (PARTITION BY md5(nrm)) AS keep FROM n),
    s AS (SELECT * FROM d WHERE doc_id = keep),
    q AS (
      SELECT doc_id, lang, text,
             least(1.0, len(toks) / 100.0)
               * (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                  / greatest(length(text), 1)) AS q_score
      FROM s)
    SELECT doc_id, lang,
           CASE WHEN ('0x' || substr(md5(text), 1, 8))::UBIGINT % 100 < 90
                THEN 'train' ELSE 'eval' END AS split,
           q_score
    FROM q WHERE q_score >= 0.35
    """,
)
def pipeline_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus prep — the pipeline composition query: normalize →
    exact-dedup on normalized text (min-id survivor via window min, no
    second scan) → quality filter (raw-IEEE score, bit-identical across
    engines) → content-hash train/eval split. Each stage is an
    oracle-proven component (text_normalize, dedup_exact_documents,
    text_quality_scores, split_train_eval); this entry proves they COMPOSE
    into one Catalyst plan — one window shuffle, everything else
    scan-speed column work."""
    from windflow_spark.functions.text import hash_split, normalize_text, quality_score

    docs = _t(spark, sf_dir, "documents")
    n = docs.withColumn("_nrm", normalize_text("text"))
    surv = n.withColumn(
        "_keep", F.min("doc_id").over(W.partitionBy(F.md5("_nrm")))
    ).filter(F.col("doc_id") == F.col("_keep"))
    q = quality_score(surv).filter(F.col("q_score") >= 0.35)
    return hash_split(q).select("doc_id", "lang", "split", "q_score")


@register(
    "pipeline_corpus_prep_v2",
    r"""
    WITH r AS (
      SELECT doc_id, lang,
             regexp_replace(
               regexp_replace(
                 regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\+?[0-9][0-9() -]{7,}[0-9]', '<PHONE>', 'g'),
               '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g')
               AS rtext
      FROM documents),
    n AS (
      SELECT *,
             trim(regexp_replace(regexp_replace(lower(rtext), '[^a-z0-9\s]', '',
                                                'g'), '\s+', ' ', 'g')) AS nrm,
             list_filter(string_split(rtext, ' '), x -> x <> '') AS toks
      FROM r),
    d AS (SELECT *, min(doc_id) OVER (PARTITION BY md5(nrm)) AS keep FROM n),
    s AS (SELECT * FROM d WHERE doc_id = keep),
    q AS (
      SELECT doc_id, lang, rtext,
             least(1.0, len(toks) / 100.0)
               * (length(regexp_replace(rtext, '[^A-Za-z]', '', 'g'))
                  / greatest(length(rtext), 1)) AS q_score,
             1.0 - len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1)
               AS dup_token_frac
      FROM s)
    SELECT doc_id, lang,
           CASE WHEN ('0x' || substr(md5(rtext), 1, 8))::UBIGINT % 100 < 90
                THEN 'train' ELSE 'eval' END AS split,
           q_score, dup_token_frac
    FROM q WHERE q_score >= 0.35 AND dup_token_frac <= 0.6
    """,
)
def pipeline_corpus_prep_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus prep v2 — the r4 pipeline with the scrub and repetition
    stages composed in: PII-redact → normalize(redacted) → exact-dedup on
    normalized text → quality score AND duplicate-token repetition filter
    → content-hash split on the redacted text. Still ONE Catalyst plan
    with a single window shuffle; every stage is an oracle-proven
    component (text_redact_pii, text_normalize, dedup_exact_documents,
    text_quality_scores, text_repetition_scores, split_train_eval)."""
    from windflow_spark.functions.text import (
        hash_split,
        normalize_text,
        quality_score,
        redact_pii,
        tokens,
    )

    docs = _t(spark, sf_dir, "documents")
    r = docs.select("doc_id", "lang", redact_pii("text").alias("_rtext"))
    n = r.withColumn("_nrm", normalize_text(F.col("_rtext")))
    surv = n.withColumn(
        "_keep", F.min("doc_id").over(W.partitionBy(F.md5("_nrm")))
    ).filter(F.col("doc_id") == F.col("_keep"))
    toks = tokens(F.col("_rtext"))
    q = quality_score(surv, "_rtext").withColumn(
        "dup_token_frac",
        F.lit(1.0)
        - F.size(F.array_distinct(toks)).cast("double")
        / F.greatest(F.size(toks), F.lit(1)).cast("double"),
    )
    kept = q.filter((F.col("q_score") >= 0.35) & (F.col("dup_token_frac") <= 0.6))
    return hash_split(kept, content_col="_rtext").select(
        "doc_id", "lang", "split", "q_score", "dup_token_frac"
    )


# ---------------------------------------------------------------------------


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship for entry(): the TPC-H Q1-style pricing summary."""
    return q1_pricing_summary(spark, sf_dir)


# --- r6 additions: warehouse history, timeseries bars, trend/divergence ---


@register(
    "scd2_customer_status",
    """
    WITH o AS (SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey
               FROM orders),
    chg AS (
      SELECT *, lag(o_orderstatus) OVER w AS prev_st
      FROM o
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
    v AS (SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey FROM chg
          WHERE prev_st IS NULL OR prev_st <> o_orderstatus)
    SELECT o_custkey, o_orderstatus, o_orderdate AS valid_from,
           lead(o_orderdate) OVER w2 AS valid_to,
           CAST(row_number() OVER w2 AS BIGINT) AS version_seq,
           lead(o_orderdate) OVER w2 IS NULL AS is_current
    FROM v
    WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def scd2_customer_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build: each customer's order-status change
    events collapse into versioned validity intervals (valid_from /
    valid_to / is_current) — the warehouse snapshot-interval op that pairs
    with asof_join for point-in-time dimension lookups. Two window passes
    over one (custkey, date) ordering (operators/timeseries.scd2_intervals);
    the oracle is the independent gaps-and-islands SQL."""
    from windflow_spark.operators.timeseries import scd2_intervals

    return scd2_intervals(
        _t(spark, sf_dir, "orders"),
        ["o_custkey"],
        "o_orderdate",
        ["o_orderstatus"],
        tiebreak_cols=["o_orderkey"],
    ).select(
        "o_custkey", "o_orderstatus", "valid_from", "valid_to",
        "version_seq", "is_current",
    )


@register(
    "ts_ohlc_hourly",
    f"""
    SELECT event_type,
           make_timestamp((epoch_us(ts) // {US_HOUR}) * {US_HOUR})
               AS bucket_start,
           (min({{'t': epoch_us(ts), 'v': value}})).v AS open,
           max(value) AS high,
           min(value) AS low,
           (max({{'t': epoch_us(ts), 'v': value}})).v AS close,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2
    """,
)
def ts_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tick→candle resample: hourly OHLC bars of event values per type in
    ONE aggregation pass; open/close via lexicographic (ts, value) struct
    min/max — order-independent (deterministic under any partitioning),
    unlike first()/last(). Mirrors the reference's incremental
    per-window min/max path (wf/window_structure.hpp) generalized to
    argmin/argmax."""
    from windflow_spark.operators.timeseries import resample_ohlc

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return resample_ohlc(ev, ["event_type"], "ts", "value", US_HOUR)


@register(
    "trending_types_daily",
    f"""
    WITH c AS (
      SELECT event_type AS key,
             CAST(epoch_us(ts) - epoch_us(ts) % {US_DAY} AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2)
    SELECT bucket, key, cnt, lag(cnt) OVER w AS prev_cnt,
           CASE WHEN lag(cnt) OVER w > 0
                THEN round(cnt::DOUBLE / (lag(cnt) OVER w), 6) END AS growth
    FROM c WINDOW w AS (PARTITION BY key ORDER BY bucket)
    """,
)
def trending_types_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend detection: per event type, daily activity with previous-day
    count and growth ratio — one (key, bucket) aggregation, then lag()
    over the REDUCED summary (never the event stream)."""
    from windflow_spark.operators.behavior import trending_counts

    return trending_counts(_t(spark, sf_dir, "events"), "event_type", US_DAY)


@register(
    "source_token_kl",
    """
    WITH tok AS (
      SELECT source AS grp, tok
      FROM documents,
           unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS u(tok)),
    gt AS (SELECT grp, tok, count(*) AS cgt FROM tok GROUP BY 1, 2),
    ct AS (SELECT tok, sum(cgt) AS ct FROM gt GROUP BY 1),
    gtot AS (SELECT grp, sum(cgt) AS gn FROM gt GROUP BY 1),
    tot AS (SELECT sum(cgt) AS n FROM gt)
    SELECT grp AS source, CAST(sum(cgt) AS BIGINT) AS n_tokens,
           round(sum((cgt / gn) * ln((cgt / gn) / (ct / n))), 6) AS kl
    FROM gt JOIN ct USING (tok) JOIN gtot USING (grp) CROSS JOIN tot
    GROUP BY grp
    """,
)
def source_token_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution KL divergence from the corpus — the
    CCNet-style domain-quality triage signal. One corpus-sized (group,
    token) shuffle; everything downstream runs on reduced frames."""
    from windflow_spark.functions.pipeline import token_kl_by_group

    return token_kl_by_group(_t(spark, sf_dir, "documents"), "source", "text")


@register(
    "fuzzy_match_suppliers",
    """
    SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
           CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist
    FROM supplier a JOIN supplier b
      ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
    WHERE levenshtein(a.s_name, b.s_name) <= 2
    """,
)
def fuzzy_match_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage by edit distance with nation blocking: supplier-name
    pairs within a nation at levenshtein ≤ 2 — the entity-resolution shape
    for near-ID strings where token-set dedup is too coarse. Equi-join on
    the block key, JVM levenshtein as residual; never an all-pairs cross
    product."""
    from windflow_spark.functions.dedup import fuzzy_pairs_blocked

    return fuzzy_pairs_blocked(
        _t(spark, sf_dir, "supplier"),
        "s_suppkey",
        "s_name",
        ["s_nationkey"],
        max_dist=2,
    )


@register(
    "setop_intersect_all_nations",
    """
    SELECT c_nationkey FROM customer
    INTERSECT ALL
    SELECT s_nationkey FROM supplier
    """,
)
def setop_intersect_all_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics INTERSECT ALL (multiplicity = min of the two sides) —
    the multiset sibling of setop_intersect_customers; Spark's
    intersectAll plans one aggregation per side + a co-partitioned join."""
    c = _t(spark, sf_dir, "customer").select("c_nationkey")
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("c_nationkey")
    )
    return c.intersectAll(s)


@register(
    "setop_except_all_nations",
    """
    SELECT c_nationkey FROM customer
    EXCEPT ALL
    SELECT s_nationkey FROM supplier
    """,
)
def setop_except_all_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics EXCEPT ALL (multiplicity = left minus right, floored
    at 0) — completes the set-operation family with the multiset variant."""
    c = _t(spark, sf_dir, "customer").select("c_nationkey")
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("c_nationkey")
    )
    return c.exceptAll(s)


@register(
    "winsorize_order_prices",
    """
    WITH b AS (
      SELECT o_orderpriority,
             quantile_cont(o_totalprice, 0.05) AS p_lo,
             quantile_cont(o_totalprice, 0.95) AS p_hi
      FROM orders GROUP BY o_orderpriority)
    SELECT o.o_orderpriority, b.p_lo, b.p_hi,
           CAST(SUM(CASE WHEN o.o_totalprice < b.p_lo THEN 1 ELSE 0 END)
                AS BIGINT) AS n_below,
           CAST(SUM(CASE WHEN o.o_totalprice > b.p_hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_above,
           round(AVG(LEAST(GREATEST(o.o_totalprice, b.p_lo), b.p_hi)), 6)
             AS mean_winsorized
    FROM orders o JOIN b USING (o_orderpriority)
    GROUP BY o.o_orderpriority, b.p_lo, b.p_hi
    """,
)
def winsorize_order_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized order-price summary per priority: exact p05/p95 bounds
    (Spark ``percentile`` ≡ DuckDB ``quantile_cont``, linear interpolation,
    verified bit-exact), tail clamp counts, winsorized mean — the
    outlier-robust normalization report before a metric feeds training or
    monitoring. Two aggregations on one grouping + a broadcast of the
    |groups|-row bounds frame."""
    from windflow_spark.functions.pipeline import winsorize_summary

    return winsorize_summary(
        _t(spark, sf_dir, "orders"), "o_totalprice", ["o_orderpriority"]
    )


@register(
    "pmi_token_pairs",
    """
    WITH d AS (
      SELECT doc_id,
             list_slice(list_sort(list_distinct(
               list_filter(string_split(text, ' '), x -> x <> ''))), 1, 30)
               AS tk
      FROM documents
      WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) >= 1),
    n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM d),
    p AS (
      SELECT a.tok_a, b.tok_b
      FROM (SELECT doc_id, unnest(tk) AS tok_a FROM d) a
      JOIN (SELECT doc_id, unnest(tk) AS tok_b FROM d) b USING (doc_id)
      WHERE a.tok_a < b.tok_b),
    pc AS (SELECT tok_a, tok_b, CAST(count(*) AS BIGINT) AS n_pair_docs
           FROM p GROUP BY tok_a, tok_b HAVING count(*) >= 5),
    dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
              FROM (SELECT doc_id, unnest(tk) AS tok FROM d) GROUP BY tok)
    SELECT pc.tok_a, pc.tok_b, pc.n_pair_docs,
           round(ln(pc.n_pair_docs::DOUBLE * n.nd / (fa.df * fb.df)), 6)
             AS pmi
    FROM pc JOIN dfreq fa ON pc.tok_a = fa.tok
            JOIN dfreq fb ON pc.tok_b = fb.tok
    CROSS JOIN n
    """,
)
def pmi_token_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: document-level PMI of token pairs over doc
    frequencies — "which terms travel together" (phrase detection, topic
    seeds). The per-doc distinct token set is sorted and capped at 30, so
    the pair expansion is bounded (same cap discipline as the LSH bucket
    caps) and, because the capped set is sorted-distinct, the index-pair
    condition i<j is exactly tok_a < tok_b on both engines."""
    from windflow_spark.functions.pipeline import token_pmi_pairs

    return token_pmi_pairs(
        _t_wide(spark, sf_dir, "documents"), max_tokens_per_doc=30, min_pair_docs=5
    )


@register(
    "ts_ewma_daily",
    f"""
    WITH RECURSIVE c AS (
      SELECT event_type,
             CAST(epoch_us(ts) // {US_DAY} AS BIGINT) AS bidx,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    r AS (SELECT event_type, bidx, cnt,
                 CAST(row_number() OVER (PARTITION BY event_type
                                         ORDER BY bidx) AS BIGINT) AS rn
          FROM c),
    e AS (
      SELECT event_type, bidx, cnt, rn, CAST(cnt AS DOUBLE) AS ewma
      FROM r WHERE rn = 1
      UNION ALL
      SELECT r.event_type, r.bidx, r.cnt, r.rn,
             CAST(0.25 AS DOUBLE) * r.cnt + CAST(0.75 AS DOUBLE) * e.ewma
      FROM r JOIN e ON r.event_type = e.event_type AND r.rn = e.rn + 1)
    SELECT event_type, make_timestamp(bidx * {US_DAY}) AS bucket_start, cnt,
           round(ewma, 6) AS ewma
    FROM e
    """,
)
def ts_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA-smoothed daily event counts per type (alpha=0.25, dyadic so
    alpha and 1-alpha are exact doubles on both engines). The recurrence
    folds JVM-side over each key's sorted bucket series — per-key state is
    the timeline length in days; the oracle is the equivalent recursive
    CTE, which runs the identical left-to-right float sequence."""
    from windflow_spark.operators.timeseries import ewma_smooth

    return ewma_smooth(
        _t(spark, sf_dir, "events"), ["event_type"], "ts", alpha=0.25, bucket_us=US_DAY
    )


@register(
    "ts_mad_anomaly_daily",
    f"""
    WITH c AS (
      SELECT event_type,
             CAST(epoch_us(ts) // {US_DAY} AS BIGINT) AS bidx,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    m AS (SELECT event_type, quantile_cont(cnt, 0.5) AS med
          FROM c GROUP BY event_type),
    cm AS (SELECT c.*, m.med FROM c JOIN m USING (event_type)),
    md AS (SELECT event_type, quantile_cont(abs(cnt - med), 0.5) AS mad
           FROM cm GROUP BY event_type),
    s AS (SELECT cm.*, md.mad FROM cm JOIN md USING (event_type)),
    z AS (SELECT *, CASE WHEN mad > 0 THEN
                 round(CAST(0.6745 AS DOUBLE) * (cnt - med) / mad, 6)
            END AS mod_z
          FROM s)
    SELECT event_type, make_timestamp(bidx * {US_DAY}) AS bucket_start,
           cnt, med, mad, mod_z,
           COALESCE(abs(mod_z) > CAST(3.5 AS DOUBLE), FALSE) AS is_anomaly
    FROM z
    """,
)
def ts_mad_anomaly_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) modified z-score over daily event counts per
    type — the outlier flag that is not dragged by the outliers
    themselves, pairing with ts_zscore_anomaly's trailing mean/stddev
    form. Exact percentiles value-match DuckDB quantile_cont."""
    from windflow_spark.operators.timeseries import mad_anomaly

    return mad_anomaly(
        _t(spark, sf_dir, "events"), ["event_type"], "ts", bucket_us=US_DAY
    )


@register(
    "pagerank_purchase_graph",
    """
    WITH ed0 AS (
      SELECT DISTINCT CAST(o.o_custkey * 2 AS BIGINT) AS src,
                      CAST(l.l_suppkey * 2 + 1 AS BIGINT) AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    ed AS (SELECT src, dst FROM ed0 UNION ALL SELECT dst, src FROM ed0),
    n AS (SELECT DISTINCT src AS node FROM ed),
    od AS (SELECT src, CAST(count(*) AS BIGINT) AS od FROM ed GROUP BY src),
    r0 AS (SELECT node, CAST(1 AS DOUBLE) AS pr FROM n),
    c1 AS (SELECT ed.dst AS node, SUM(r0.pr / od.od) AS m
           FROM ed JOIN od USING (src) JOIN r0 ON r0.node = ed.src
           GROUP BY ed.dst),
    r1 AS (SELECT n.node,
                  (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                    + CAST(0.85 AS DOUBLE)
                      * COALESCE(c1.m, CAST(0 AS DOUBLE)) AS pr
           FROM n LEFT JOIN c1 USING (node)),
    c2 AS (SELECT ed.dst AS node, SUM(r1.pr / od.od) AS m
           FROM ed JOIN od USING (src) JOIN r1 ON r1.node = ed.src
           GROUP BY ed.dst),
    r2 AS (SELECT n.node,
                  (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                    + CAST(0.85 AS DOUBLE)
                      * COALESCE(c2.m, CAST(0 AS DOUBLE)) AS pr
           FROM n LEFT JOIN c2 USING (node))
    SELECT node, round(pr, 6) AS pr FROM r2
    """,
)
def pagerank_purchase_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-iteration PageRank over the undirected customer–supplier
    purchase graph (distinct orders⋈lineitem pairs, both edge directions).
    Fixed-iteration power method: each round is one co-partitioned edge⋈
    rank join + one groupBy — nothing driver-side; the oracle unrolls the
    same two rounds. Node ids are INTEGER-encoded (cust·2 / supp·2+1) —
    integer shuffle keys, no string concat on the hot path. In the
    undirected graph every node has in-edges, so the dangling-mass term
    never fires here (the operator still handles it via the left join)."""
    from windflow_spark.operators.graph import pagerank

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).cast("long").alias("src"),
            (F.col("l_suppkey") * 2 + 1).cast("long").alias("dst"),
        )
        .distinct()
    )
    edges = pairs.union(pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return pagerank(edges, iters=2, damping=0.85)


@register(
    "chi2_segment_priority",
    """
    WITH j AS (
      SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    cell AS (SELECT segment, priority, CAST(count(*) AS BIGINT) AS n_obs
             FROM j GROUP BY 1, 2),
    rt AS (SELECT segment, CAST(sum(n_obs) AS BIGINT) AS row_tot
           FROM cell GROUP BY segment),
    ct AS (SELECT priority, CAST(sum(n_obs) AS BIGINT) AS col_tot
           FROM cell GROUP BY priority),
    t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM cell),
    e AS (SELECT cell.segment, cell.priority, cell.n_obs,
                 CAST(rt.row_tot * ct.col_tot AS DOUBLE) / t.n AS exp
          FROM cell JOIN rt USING (segment) JOIN ct USING (priority)
          CROSS JOIN t)
    SELECT segment, priority, n_obs, round(exp, 6) AS n_exp,
           round((n_obs - exp) * (n_obs - exp) / exp, 6) AS chi2_contrib
    FROM e
    """,
)
def chi2_segment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence screen of market segment × order priority:
    observed vs expected counts and per-cell chi² contributions. Expected
    counts derive from exact BIGINT marginal products — one double
    division — so cells value-match cross-engine; Spark computes the
    marginals as window sums over the reduced cell frame (one keyed
    exchange total)."""
    from windflow_spark.functions.pipeline import chi2_contingency

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_orderpriority").alias("priority"),
    )
    return chi2_contingency(j, "segment", "priority")


@register(
    "key_skew_events",
    """
    WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c
               FROM events GROUP BY user_id),
    a AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
                 CAST(sum(c) AS BIGINT) AS n_total,
                 CAST(max(c) AS BIGINT) AS max_cnt,
                 sum(CAST(c AS DOUBLE) * ln(c)) AS s
          FROM c)
    SELECT n_keys, n_total, max_cnt,
           round(CAST(max_cnt AS DOUBLE) / n_total, 6) AS top_share,
           round(ln(n_total) - s / n_total, 6) AS entropy,
           round((ln(n_total) - s / n_total)
                 / ln(CAST(n_keys AS DOUBLE)), 6) AS norm_entropy
    FROM a
    """,
)
def key_skew_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic for events.user_id: cardinality, hottest
    key share, Shannon entropy (via H = ln N − Σ c·ln c / N — one global
    agg, no N-join-back), normalized entropy. The pre-flight measurement
    that decides salting vs AQE skew handling for a 100 TB join on this
    key."""
    from windflow_spark.functions.pipeline import key_distribution_report

    return key_distribution_report(_t(spark, sf_dir, "events"), "user_id")


@register(
    "corr_lineitem_metrics",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qp,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(covar_samp(l_quantity, l_extendedprice)
                 / var_samp(l_quantity), 4) AS slope,
           round(avg(l_extendedprice)
                 - round(covar_samp(l_quantity, l_extendedprice)
                         / var_samp(l_quantity), 4) * avg(l_quantity), 2)
             AS intercept
    FROM lineitem GROUP BY l_returnflag
    """,
)
def corr_lineitem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics battery per return flag in ONE aggregation
    pass: Pearson correlation, sample covariance, stddev, and the
    least-squares slope/intercept of extendedprice on quantity (slope =
    covar/var; the intercept uses the ROUNDED slope so both engines
    multiply the identical double). Rounding precision is magnitude-aware
    (corr 6dp; covar/intercept 2dp; sd/slope 4dp) — co-moment aggregates
    are stable but their partial-merge order differs across engines."""
    li = _t(spark, sf_dir, "lineitem")
    slope = F.round(
        F.covar_samp("l_quantity", "l_extendedprice")
        / F.var_samp("l_quantity"),
        4,
    )
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qp"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("covar_qp"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        slope.alias("slope"),
        F.round(
            F.avg("l_extendedprice") - slope * F.avg("l_quantity"), 2
        ).alias("intercept"),
    )


@register(
    "pivot_segment_priority",
    """
    SELECT c.c_mktsegment AS segment,
           CAST(SUM(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS p_urgent,
           CAST(SUM(CASE WHEN o.o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS p_high,
           CAST(SUM(CASE WHEN o.o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS p_medium,
           CAST(SUM(CASE WHEN o.o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS p_notspec,
           CAST(SUM(CASE WHEN o.o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS p_low
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def pivot_segment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-format pivot: order counts per segment × priority as columns
    (`DataFrame.pivot` with EXPLICIT values — no values-discovery job, so
    one keyed exchange; Catalyst compiles it to the same conditional
    aggregation the oracle spells out)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    pri = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    wide = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .pivot("o_orderpriority", pri)
        .count()
    )
    names = ["p_urgent", "p_high", "p_medium", "p_notspec", "p_low"]
    return wide.select(
        "segment",
        *[F.coalesce(F.col(f"`{p}`"), F.lit(0)).cast("long").alias(n)
          for p, n in zip(pri, names)],
    )


@register(
    "split_train_val_test",
    """
    WITH s AS (
      SELECT CASE
               WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT % 100 < 90
                 THEN 'train'
               WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT % 100 < 95
                 THEN 'val'
               ELSE 'test'
             END AS split,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok
      FROM documents)
    SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM s GROUP BY split
    """,
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split by content-addressed md5
    bucket of the document id — the canonical dataset split, reproducible
    under any partitioning and engine (exact integer hash bucket, no
    RAND()). Output: per-split doc and token counts (the split itself is a
    column stamp; this report is the auditable artifact)."""
    from windflow_spark.functions.text import tokens as _toks

    d = _t_wide(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), F.size(_toks("text")).alias("n_tok"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )


@register(
    "hist_doc_lengths",
    """
    WITH t AS (
      SELECT CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  // 50 * 50 AS BIGINT) AS bucket_lo
      FROM documents),
    h AS (SELECT bucket_lo, CAST(count(*) AS BIGINT) AS n_docs FROM t
          GROUP BY bucket_lo),
    w AS (SELECT bucket_lo, n_docs, SUM(n_docs) OVER () AS n FROM h)
    SELECT bucket_lo, n_docs,
           round(CAST(n_docs AS DOUBLE) / n, 6) AS pct
    FROM w
    """,
)
def hist_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram (50-token integer buckets — exact integer
    arithmetic, no float log bucketing that rounds differently at powers
    across engines) with each bucket's share of the corpus: the
    distribution panel every data-quality dashboard opens with. One keyed
    exchange + a window total over the reduced histogram frame."""
    from pyspark.sql import Window as W

    from windflow_spark.functions.text import tokens as _toks

    d = _t_wide(spark, sf_dir, "documents")
    h = (
        d.select(
            ((F.size(_toks("text")).cast("long") / 50).cast("long") * 50).alias(
                "bucket_lo"
            )
        )
        .groupBy("bucket_lo")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    n = F.sum("n_docs").over(W.partitionBy())
    return h.select(
        "bucket_lo",
        "n_docs",
        F.round(F.col("n_docs").cast("double") / n, 6).alias("pct"),
    )


@register(
    "ts_rolling_corr",
    f"""
    WITH d AS (
      SELECT CAST(epoch_us(ts) // {US_DAY} AS BIGINT) AS day,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY 1)
    SELECT make_timestamp(day * {US_DAY}) AS bucket_start, x, y,
           CASE WHEN count(*) OVER w >= 5
                THEN round(corr(x, y) OVER w, 4) END AS corr_7d
    FROM d
    WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def ts_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day correlation between two event series (clicks vs
    views per day) — the co-movement monitor for metric pairs. One keyed
    exchange builds both daily series in a single conditional-agg pass
    (no self-join of the event table); the bounded ROWS frame keeps
    window state at 7 tuples; <5 observations yield NULL (4dp — the
    co-moment frame recurrence differs across engines at the ulp level)."""
    from pyspark.sql import Window as W

    from windflow_spark.operators.timeutil import event_micros

    e = _t(spark, sf_dir, "events")
    day = F.floor(event_micros(e, "ts") / F.lit(US_DAY)).cast("long")
    d = (
        e.withColumn("_day", day)
        .groupBy("_day")
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("long")
            .alias("y"),
        )
    )
    w = W.orderBy("_day").rowsBetween(-6, 0)
    corr = F.when(
        F.count(F.lit(1)).over(w) >= 5, F.round(F.corr("x", "y").over(w), 4)
    )
    return d.select(
        F.timestamp_micros(F.col("_day") * F.lit(US_DAY)).alias("bucket_start"),
        "x",
        "y",
        corr.alias("corr_7d"),
    )


@register(
    "bin_equal_freq",
    """
    WITH b AS (
      SELECT o_totalprice,
             CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey)
                  AS BIGINT) AS bin
      FROM orders)
    SELECT bin, CAST(count(*) AS BIGINT) AS n,
           min(o_totalprice) AS lo, max(o_totalprice) AS hi,
           round(avg(o_totalprice), 2) AS mean
    FROM b GROUP BY bin
    """,
)
def bin_equal_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency (decile) binning of order prices with per-bin
    stats — the feature-engineering discretization step. ntile over a
    TOTAL ordering (price, orderkey tie-break) so bin assignment is
    deterministic on every engine; one global sort + one aggregation.
    At 100 TB swap the exact ntile for percentile_approx cut points and a
    range join — the report shape is unchanged."""
    from pyspark.sql import Window as W

    o = _t(spark, sf_dir, "orders")
    b = o.select(
        "o_totalprice",
        F.ntile(10)
        .over(W.orderBy("o_totalprice", "o_orderkey"))
        .cast("long")
        .alias("bin"),
    )
    return b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.round(F.avg("o_totalprice"), 2).alias("mean"),
    )


@register(
    "markov_event_transitions",
    """
    WITH s AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events),
    t AS (SELECT event_type AS from_type, next_type AS to_type,
                 CAST(count(*) AS BIGINT) AS n
          FROM s WHERE next_type IS NOT NULL
          GROUP BY 1, 2),
    w AS (SELECT from_type, to_type, n,
                 SUM(n) OVER (PARTITION BY from_type) AS row_n
          FROM t)
    SELECT from_type, to_type, n,
           round(CAST(n AS DOUBLE) / row_n, 6) AS p
    FROM w
    """,
)
def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of per-user event sequences:
    counts and conditional probabilities P(next | current) — the sequence
    model behind session-flow analysis and next-event prediction. One
    keyed exchange on user for the lead() ordering (event_id tie-break for
    determinism), one (from,to) aggregation; row totals are window sums
    over the reduced |types|² frame."""
    from pyspark.sql import Window as W

    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    t = s.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    row_n = F.sum("n").over(W.partitionBy("from_type"))
    return t.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / row_n, 6).alias("p"),
    )


@register(
    "psi_price_drift",
    """
    WITH r AS (SELECT o_totalprice AS v FROM orders
               WHERE year(o_orderdate) < 1998),
    c AS (SELECT o_totalprice AS v FROM orders
          WHERE year(o_orderdate) >= 1998),
    q AS (SELECT quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9])
                   AS cuts
          FROM r),
    rb AS (SELECT CAST(list_sum(list_transform(q.cuts,
                    x -> CASE WHEN r.v > x THEN 1 ELSE 0 END)) AS BIGINT)
                    AS bin
           FROM r, q),
    cb AS (SELECT CAST(list_sum(list_transform(q.cuts,
                    x -> CASE WHEN c.v > x THEN 1 ELSE 0 END)) AS BIGINT)
                    AS bin
           FROM c, q),
    rc AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_ref FROM rb GROUP BY bin),
    cc AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_cur FROM cb GROUP BY bin),
    j AS (SELECT rc.bin, rc.n_ref, COALESCE(cc.n_cur, 0) AS n_cur
          FROM rc LEFT JOIN cc USING (bin)),
    w AS (SELECT bin, n_ref, n_cur,
                 SUM(n_ref) OVER () AS tr, SUM(n_cur) OVER () AS tc
          FROM j)
    SELECT bin, n_ref, n_cur,
           CASE WHEN n_cur > 0 THEN
             round((CAST(n_cur AS DOUBLE) / tc - CAST(n_ref AS DOUBLE) / tr)
                   * ln((CAST(n_cur AS DOUBLE) / tc)
                        / (CAST(n_ref AS DOUBLE) / tr)), 6)
           END AS psi_contrib
    FROM w
    """,
)
def psi_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of order prices, pre-1998 (reference)
    vs 1998+ (current) — THE drift monitor for a feature/metric feeding a
    model. Bins are the reference population's exact deciles (Spark
    ``percentile`` ≡ DuckDB ``quantile_cont`` bit-exact); both
    populations bucket against the broadcast 9-cut array (one row — the
    scalar-attach plan); per-bin PSI contributions are exact-count
    rationals through single float ops, so values match cross-engine.
    Bins the current population misses yield NULL (sum the rest for the
    headline PSI).

    Shape (r7, from the 10× probe — the r6 form was the corpus' worst
    scale ratio): BOTH populations bin in ONE pass over orders with a
    population tag and a conditional aggregation, so the exact-percentile
    cut branch is consumed exactly once (the old per-population binned()
    built the percentile subtree twice — 4 scans, no exchange reuse) and
    the ref←cur left join disappears. 2 scans total: one for cuts, one
    for binning."""
    from pyspark.sql import Window as W

    o = _t(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("y"), F.col("o_totalprice").alias("v")
    )
    ref = o.filter(F.col("y") < 1998)
    cuts = ref.agg(
        F.percentile("v", F.array(*[F.lit(i / 10) for i in range(1, 10)])).alias(
            "cuts"
        )
    )
    b = F.aggregate(
        F.col("cuts"),
        F.lit(0),
        lambda acc, x: acc + F.when(F.col("v") > x, 1).otherwise(0),
    ).cast("long")
    is_ref = F.col("y") < 1998
    j = (
        o.crossJoin(F.broadcast(cuts))
        .select(b.alias("bin"), is_ref.alias("is_ref"))
        .groupBy("bin")
        .agg(
            F.count(F.when(F.col("is_ref"), 1)).cast("long").alias("n_ref"),
            F.count(F.when(~F.col("is_ref"), 1)).cast("long").alias("n_cur"),
        )
        # the old form kept only REF-populated bins (rc LEFT JOIN cc);
        # ref deciles populate all 10 bins so this filter is a no-op on
        # real data, kept for exact semantic parity
        .filter(F.col("n_ref") > 0)
    )
    w = W.partitionBy()
    tr = F.sum("n_ref").over(w)
    tc = F.sum("n_cur").over(w)
    pr = F.col("n_ref").cast("double") / tr
    pc = F.col("n_cur").cast("double") / tc
    psi = F.when(F.col("n_cur") > 0, F.round((pc - pr) * F.log(pc / pr), 6))
    return j.select("bin", "n_ref", "n_cur", psi.alias("psi_contrib"))


@register(
    "selfjoin_size_estimate",
    """
    WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c
               FROM events GROUP BY user_id)
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(sum(c * c) AS BIGINT) AS n_pairs,
           CAST(max(c * c) AS BIGINT) AS top_key_pairs,
           round(CAST(max(c * c) AS DOUBLE) / sum(c * c), 6) AS top_share
    FROM c
    """,
)
def selfjoin_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight join-size/skew estimator: the exact output cardinality
    of a self-join on events.user_id is Σ c_k² — computable from one
    per-key count pass, WITHOUT running the join. top_share (hottest
    key's fraction of the output) is the number that predicts a straggler
    task at 100 TB and motivates salting/AQE before the fact — the
    companion to key_skew_events' entropy view."""
    c = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    sq = F.col("c") * F.col("c")
    return c.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("c").cast("long").alias("n_rows"),
        F.sum(sq).cast("long").alias("n_pairs"),
        F.max(sq).cast("long").alias("top_key_pairs"),
        F.round(
            F.max(sq).cast("double") / F.sum(sq), 6
        ).alias("top_share"),
    )


@register(
    "scd2_point_in_time_join",
    """
    WITH o AS (SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey
               FROM orders),
    chg AS (
      SELECT *, lag(o_orderstatus) OVER w AS prev_st
      FROM o
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
    v AS (SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey FROM chg
          WHERE prev_st IS NULL OR prev_st <> o_orderstatus),
    iv AS (SELECT o_custkey, o_orderstatus AS status,
                  o_orderdate AS valid_from,
                  lead(o_orderdate) OVER w2 AS valid_to,
                  CAST(row_number() OVER w2 AS BIGINT) AS version_seq
           FROM v
           WINDOW w2 AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey))
    SELECT ord.o_orderkey, ord.o_custkey, iv.version_seq, iv.status
    FROM orders ord JOIN iv
      ON ord.o_custkey = iv.o_custkey
     AND iv.valid_from <= ord.o_orderdate
     AND (iv.valid_to IS NULL OR ord.o_orderdate < iv.valid_to)
    """,
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lookup half of the SCD2 story: every order joined to the
    customer-status VERSION valid at its order date (half-open
    [valid_from, valid_to) intervals from scd2_intervals, so a change-day
    fact lands in the new version and empty same-day intervals match
    nothing — each fact hits exactly one version). Equi-join on the
    customer key with the interval bounds as residual — the interval-join
    KP shape; the dimension side is version-count-sized, far smaller than
    the fact side."""
    from windflow_spark.operators.timeseries import scd2_intervals

    o = _t(spark, sf_dir, "orders")
    iv = scd2_intervals(
        o.select("o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey"),
        ["o_custkey"],
        "o_orderdate",
        ["o_orderstatus"],
        tiebreak_cols=["o_orderkey"],
    ).select(
        "o_custkey",
        F.col("o_orderstatus").alias("status"),
        "valid_from",
        "valid_to",
        "version_seq",
    )
    f = o.select("o_orderkey", F.col("o_custkey").alias("f_custkey"), "o_orderdate")
    return f.join(
        iv,
        (F.col("f_custkey") == iv.o_custkey)
        & (iv.valid_from <= F.col("o_orderdate"))
        & (iv.valid_to.isNull() | (F.col("o_orderdate") < iv.valid_to)),
    ).select(
        "o_orderkey",
        F.col("f_custkey").alias("o_custkey"),
        "version_seq",
        "status",
    )


@register(
    "wau_rolling_7d",
    f"""
    WITH ud AS (
      SELECT DISTINCT user_id,
             CAST(epoch_us(ts) // {US_DAY} AS BIGINT) AS day
      FROM events),
    cov AS (
      SELECT DISTINCT user_id, ud.day + g.d AS day
      FROM ud, unnest(generate_series(0, 6)) AS g(d))
    SELECT make_timestamp(day * {US_DAY}) AS day_start,
           CAST(count(*) AS BIGINT) AS wau
    FROM cov GROUP BY day
    """,
)
def wau_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per calendar day — the DAU/WAU panel.
    Exact windowed DISTINCT counting without a distinct-over-window
    (which no engine supports): each (user, active-day) pair EXPANDS to
    the 7 report days it covers, and a plain distinct + count finishes
    the job. Three keyed exchanges, each over frames already reduced to
    (user, day) granularity — the fact table is touched once; the 7×
    expansion happens after the first distinct, so it multiplies user-days,
    not events."""
    from windflow_spark.operators.timeutil import event_micros

    e = _t(spark, sf_dir, "events")
    day = F.floor(event_micros(e, "ts") / F.lit(US_DAY)).cast("long")
    ud = e.select("user_id", day.alias("day")).distinct()
    cov = ud.select(
        "user_id", F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("day")
    ).distinct()
    return cov.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("wau")
    ).select(
        F.timestamp_micros(F.col("day") * F.lit(US_DAY)).alias("day_start"), "wau"
    )


@register(
    "forward_fill_last_purchase",
    """
    SELECT event_id, user_id, event_type,
           last_value(CASE WHEN event_type = 'purchase' THEN value END
                      IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS last_purchase_value
    FROM events
    """,
)
def forward_fill_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Carry-forward (LOCF) enrichment: every event annotated with the
    user's most recent purchase amount — ``last_value ... IGNORE NULLS``
    over the per-user timeline, the standard sparse-observation fill that
    pairs with asof_join (same semantics, window form — right when the
    fill source and target are ONE ordered stream rather than two
    tables). One keyed exchange; NULL until the user's first purchase."""
    from pyspark.sql import Window as W

    e = _t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    return e.select(
        "event_id",
        "user_id",
        "event_type",
        F.last(pv, ignorenulls=True).over(w).alias("last_purchase_value"),
    )


@register(
    "interarrival_stats",
    """
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
      FROM events)
    SELECT event_type, CAST(count(gap) AS BIGINT) AS n_gaps,
           quantile_cont(gap, 0.5) AS p50_us,
           quantile_cont(gap, 0.95) AS p95_us,
           CAST(max(gap) AS BIGINT) AS max_us
    FROM g WHERE gap IS NOT NULL
    GROUP BY event_type
    """,
)
def interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap distribution per event type (gap = time since the
    user's previous event, attributed to the later event): exact
    p50/p95/max — the telemetry panel behind session-timeout and
    rate-limit tuning, and the empirical basis for choosing a session gap
    (win_session_30m) or K-slack horizon. One keyed exchange for the
    per-user lag ordering, one per-type aggregation; Spark ``percentile``
    ≡ DuckDB ``quantile_cont`` bit-exact."""
    from pyspark.sql import Window as W

    from windflow_spark.operators.timeutil import event_micros

    e = _t(spark, sf_dir, "events")
    us = event_micros(e, "ts")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    return g.groupBy("event_type").agg(
        F.count("gap").cast("long").alias("n_gaps"),
        F.percentile("gap", F.lit(0.5)).alias("p50_us"),
        F.percentile("gap", F.lit(0.95)).alias("p95_us"),
        F.max("gap").cast("long").alias("max_us"),
    )


@register(
    "funnel_latency_percentiles",
    """
    WITH s0 AS (SELECT user_id, min(epoch_us(ts)) AS t0
                FROM events WHERE event_type = 'signup' GROUP BY user_id),
    s1 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t1
           FROM events e JOIN s0 USING (user_id)
           WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s0.t0
           GROUP BY e.user_id),
    l AS (SELECT s1.t1 - s0.t0 AS lat FROM s1 JOIN s0 USING (user_id))
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           quantile_cont(lat, 0.5) AS p50_us,
           quantile_cont(lat, 0.9) AS p90_us,
           CAST(max(lat) AS BIGINT) AS max_us
    FROM l
    """,
)
def funnel_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution for the signup→purchase funnel
    (first-touch semantics, matching funnel_signup_purchase: the purchase
    must be strictly after the user's FIRST signup): exact p50/p90/max of
    the conversion latency — the metric product teams read next to the
    conversion rate. Both stage frames aggregate on the user key and join
    co-partitioned; the K filtered scans push the event-type filter to the
    source."""
    from windflow_spark.operators.timeutil import event_micros

    e = _t(spark, sf_dir, "events")
    us = event_micros(e, "ts")
    s0 = (
        e.filter(F.col("event_type") == "signup")
        .select("user_id", us.alias("_us"))
        .groupBy("user_id")
        .agg(F.min("_us").alias("t0"))
    )
    s1 = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", us.alias("_us"))
        .join(s0, "user_id")
        .filter(F.col("_us") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("_us").alias("t1"), F.min("t0").alias("t0"))
    )
    lat = (F.col("t1") - F.col("t0")).alias("lat")
    return s1.select(lat).agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.percentile("lat", F.lit(0.5)).alias("p50_us"),
        F.percentile("lat", F.lit(0.9)).alias("p90_us"),
        F.max("lat").cast("long").alias("max_us"),
    )


@register(
    "embedding_source_drift",
    """
    WITH x AS (
      SELECT d.source,
             generate_subscripts(e.embedding, 1) - 1 AS i,
             unnest(e.embedding) AS v
      FROM embeddings e
      JOIN documents d ON e.vec_id = d.doc_id),
    dim AS (
      SELECT source, i, avg(v) AS m FROM x GROUP BY source, i),
    corpus AS (
      SELECT i, avg(m) AS c FROM dim GROUP BY i),
    dots AS (
      SELECT dim.source,
             SUM(dim.m * corpus.c) AS dp,
             SUM(dim.m * dim.m) AS nn,
             SUM(corpus.c * corpus.c) AS cc
      FROM dim JOIN corpus USING (i) GROUP BY dim.source)
    SELECT source, round(dp / (sqrt(nn) * sqrt(cc)), 6) AS cos_to_corpus
    FROM dots
    """,
)
def embedding_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift monitor: each source's mean embedding
    vector compared (cosine) to the mean of the source means — sources
    whose centroid points away from the corpus consensus flag a domain
    shift before it reaches training. Per-dimension means via
    posexplode (one (source, dim) exchange over dims·|sources| cells);
    the |sources|×dim centroid frame is tiny thereafter. 6dp — float sum
    order differs across engines."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    emb = _t(spark, sf_dir, "embeddings")
    j = emb.join(d, emb.vec_id == d.doc_id).select(
        "source", F.posexplode("embedding").alias("i", "v")
    )
    dim = j.groupBy("source", "i").agg(F.avg("v").alias("m"))
    corpus = dim.groupBy("i").agg(F.avg("m").alias("c"))
    dots = (
        dim.join(corpus, "i")
        .groupBy("source")
        .agg(
            F.sum(F.col("m") * F.col("c")).alias("dp"),
            F.sum(F.col("m") * F.col("m")).alias("nn"),
            F.sum(F.col("c") * F.col("c")).alias("cc"),
        )
    )
    return dots.select(
        "source",
        F.round(
            F.col("dp") / (F.sqrt(F.col("nn")) * F.sqrt(F.col("cc"))), 6
        ).alias("cos_to_corpus"),
    )


@register(
    "ts_twap_daily",
    f"""
    WITH e AS (
      SELECT event_type, value, epoch_us(ts) AS us,
             CAST(epoch_us(ts) // {US_DAY} AS BIGINT) AS day
      FROM events),
    d AS (
      SELECT event_type, day, value, us,
             COALESCE(
               lead(us) OVER (PARTITION BY event_type, day
                              ORDER BY us, value),
               (day + 1) * {US_DAY}) - us AS dur
      FROM e),
    a AS (SELECT event_type, day,
                 SUM(value * dur) AS vw, SUM(dur) AS w,
                 CAST(count(*) AS BIGINT) AS n_obs
          FROM d GROUP BY event_type, day)
    SELECT event_type, make_timestamp(day * {US_DAY}) AS bucket_start,
           n_obs, round(vw / w, 6) AS twap
    FROM a
    """,
)
def ts_twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per type and day — the right mean for
    IRREGULARLY sampled series (a value that held for 20 h must outweigh
    one that held for 5 min; the plain avg is sampling-rate-biased, the
    TWAP is not). Each observation is weighted by its holding duration:
    until the next observation in the same (type, day), the last one
    extending to day end. One keyed exchange; the lead() window reuses
    the (type, day) partitioning; (us, value) ordering makes
    equal-timestamp duration attribution deterministic."""
    from pyspark.sql import Window as W

    from windflow_spark.operators.timeutil import event_micros

    e = _t(spark, sf_dir, "events")
    us = event_micros(e, "ts")
    d0 = e.select(
        "event_type",
        "value",
        us.alias("us"),
        F.floor(us / F.lit(US_DAY)).cast("long").alias("day"),
    )
    w = W.partitionBy("event_type", "day").orderBy("us", "value")
    dur = (
        F.coalesce(F.lead("us").over(w), (F.col("day") + 1) * F.lit(US_DAY))
        - F.col("us")
    )
    a = (
        d0.withColumn("dur", dur)
        .groupBy("event_type", "day")
        .agg(
            F.sum(F.col("value") * F.col("dur")).alias("vw"),
            F.sum("dur").alias("w"),
            F.count(F.lit(1)).cast("long").alias("n_obs"),
        )
    )
    return a.select(
        "event_type",
        F.timestamp_micros(F.col("day") * F.lit(US_DAY)).alias("bucket_start"),
        "n_obs",
        F.round(F.col("vw") / F.col("w"), 6).alias("twap"),
    )


@register(
    "winsorize_approx_bounds",
    """
    WITH b AS (
      SELECT o_orderpriority,
             quantile_cont(o_totalprice, 0.04) AS lo_min,
             quantile_cont(o_totalprice, 0.06) AS lo_max,
             quantile_cont(o_totalprice, 0.94) AS hi_min,
             quantile_cont(o_totalprice, 0.96) AS hi_max,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY o_orderpriority)
    SELECT o_orderpriority, n, TRUE AS lo_within_bound,
           TRUE AS hi_within_bound
    FROM b
    """,
)
def winsorize_approx_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The designated 100 TB path for winsorize_order_prices: sketch-based
    ``percentile_approx`` bounds (mergeable KLL-style state, no per-group
    sorted buffer) with the accuracy CONTRACT as the query result — the
    approx p05/p95 must land inside the exact [p04,p06]/[p94,p96]
    brackets (rank error at accuracy 10k is ~100× tighter; the booleans,
    not the sketch values, are compared, so the check is deterministic
    under any partitioning and engine — the heavy_hitters_tokens oracle
    pattern). Swap these bounds into winsorize_summary's clamp pass and
    the report is sketch-powered end to end."""
    o = _t(spark, sf_dir, "orders")
    b = o.groupBy("o_orderpriority").agg(
        F.percentile_approx(
            "o_totalprice", F.array(F.lit(0.05), F.lit(0.95)), F.lit(10000)
        ).alias("ap"),
        F.percentile(
            "o_totalprice",
            F.array(F.lit(0.04), F.lit(0.06), F.lit(0.94), F.lit(0.96)),
        ).alias("ex"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    lo, hi = F.element_at("ap", 1), F.element_at("ap", 2)
    return b.select(
        "o_orderpriority",
        "n",
        ((F.element_at("ex", 1) <= lo) & (lo <= F.element_at("ex", 2))).alias(
            "lo_within_bound"
        ),
        ((F.element_at("ex", 3) <= hi) & (hi <= F.element_at("ex", 4))).alias(
            "hi_within_bound"
        ),
    )


@register(
    "bin_equal_freq_approx",
    """
    WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders)
    SELECT g.bin, TRUE AS within_tol
    FROM n, unnest(generate_series(0, 9)) AS g(bin)
    """,
)
def bin_equal_freq_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The designated 100 TB path for bin_equal_freq: decile CUTPOINTS
    from one percentile_approx sketch (9 doubles to the driver — no
    global sort), bucket assignment as a broadcast-cutpoint comparison
    (the PSI shape, embarrassingly parallel), and the equal-frequency
    CONTRACT as the result: every bin's share must sit within ±2 % of
    1/10 (sketch rank error at accuracy 10k is ~100× tighter). Ten
    (bin, TRUE) rows — deterministic under any partitioning/engine."""
    o = _t(spark, sf_dir, "orders").select(F.col("o_totalprice").alias("v"))
    cuts = o.agg(
        F.percentile_approx(
            "v", F.array(*[F.lit(i / 10) for i in range(1, 10)]), F.lit(10000)
        ).alias("cuts"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    b = F.aggregate(
        F.col("cuts"),
        F.lit(0),
        lambda acc, x: acc + F.when(F.col("v") > x, 1).otherwise(0),
    ).cast("long")
    binned = (
        o.crossJoin(F.broadcast(cuts))
        .select(b.alias("bin"), "n")
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"), F.min("n").alias("n"))
    )
    share = F.col("cnt").cast("double") / F.col("n")
    return binned.select(
        "bin", ((share >= 0.08) & (share <= 0.12)).alias("within_tol")
    )


@register(
    "ri_check_star_schema",
    """
    SELECT * FROM (
      SELECT 'orders.custkey->customer' AS fk,
             CAST((SELECT count(*) FROM orders o
                   WHERE NOT EXISTS (SELECT 1 FROM customer c
                                     WHERE c.c_custkey = o.o_custkey))
                  AS BIGINT) AS n_orphans
      UNION ALL
      SELECT 'lineitem.orderkey->orders',
             CAST((SELECT count(*) FROM lineitem l
                   WHERE NOT EXISTS (SELECT 1 FROM orders o
                                     WHERE o.o_orderkey = l.l_orderkey))
                  AS BIGINT)
      UNION ALL
      SELECT 'lineitem.suppkey->supplier',
             CAST((SELECT count(*) FROM lineitem l
                   WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                     WHERE s.s_suppkey = l.l_suppkey))
                  AS BIGINT)
      UNION ALL
      SELECT 'customer.nationkey->nation',
             CAST((SELECT count(*) FROM customer c
                   WHERE NOT EXISTS (SELECT 1 FROM nation n
                                     WHERE n.n_nationkey = c.c_nationkey))
                  AS BIGINT)
    )
    """,
)
def ri_check_star_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: orphan counts
    for four foreign keys, each a LEFT ANTI join (completing the DQ family
    next to data_quality_report's null/domain/range/uniqueness rules —
    RI is the one rule class that needs TWO tables). Anti joins
    broadcast the dimension side where small; orphan count 0 is the
    healthy result, and the query stays cheap at 100 TB because an anti
    join short-circuits per probe."""
    checks = [
        ("orders.custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem.orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("customer.nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ]
    out = None
    for name, ft, fk, dt_, dk in checks:
        f = _t(spark, sf_dir, ft)
        d = _t(spark, sf_dir, dt_)
        orphans = f.join(d, f[fk] == d[dk], "left_anti").agg(
            F.count(F.lit(1)).cast("long").alias("n_orphans")
        ).select(F.lit(name).alias("fk"), "n_orphans")
        out = orphans if out is None else out.unionByName(orphans)
    return out


def _sim_quantized_recall_sql() -> str:
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v, sqrt({_EMB_NORM_CHAIN}) AS nrm FROM e),
    qz AS (SELECT vec_id,
                  list_transform(v, x -> CAST(CAST(trunc(127.0 * x / nrm)
                                              AS INT) AS DOUBLE)) AS qv
           FROM n),
    qs AS (SELECT vec_id AS query_id, v AS qev FROM e WHERE vec_id < 10),
    bf_s AS (
      SELECT qs.query_id, e.vec_id,
             round(list_cosine_similarity(qev, v), 6) AS cs
      FROM e JOIN qs ON e.vec_id <> qs.query_id),
    bf AS (SELECT query_id, vec_id FROM (
             SELECT query_id, vec_id,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY cs DESC, vec_id) AS rk
             FROM bf_s) WHERE rk <= 5),
    zq AS (SELECT vec_id AS query_id, qv AS qqv FROM qz WHERE vec_id < 10),
    ap_s AS (
      SELECT zq.query_id, qz.vec_id,
             round(list_cosine_similarity(qqv, qv), 6) AS cs
      FROM qz JOIN zq ON qz.vec_id <> zq.query_id),
    ap AS (SELECT query_id, vec_id FROM (
             SELECT query_id, vec_id,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY cs DESC, vec_id) AS rk
             FROM ap_s) WHERE rk <= 5),
    h AS (SELECT bf.query_id, count(*) AS n_hits
          FROM bf JOIN ap ON bf.query_id = ap.query_id
                         AND bf.vec_id = ap.vec_id
          GROUP BY bf.query_id),
    nn AS (SELECT query_id, count(*) AS n_exact FROM bf GROUP BY query_id)
    SELECT nn.query_id, coalesce(n_hits, 0)::BIGINT AS n_hits,
           coalesce(n_hits, 0)::DOUBLE / n_exact AS recall
    FROM nn LEFT JOIN h USING (query_id)
    """


@register("sim_quantized_recall", _sim_quantized_recall_sql())
def sim_quantized_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deploy-tradeoff measurement for int8 embedding quantization: per-
    query recall@5 of brute-force cosine over the QUANTIZED vectors
    (embedding_norm_quantize's trunc(127·v/‖v‖) scheme) against the exact
    float top-5 — the number that says whether the 4× memory/bandwidth
    saving of int8 search costs any retrieval quality. Quantized dot
    products are EXACT integers, so both engines rank identically; the
    comparison frames are k×Q-bounded broadcasts."""
    from windflow_spark.functions.similarity import (
        _norm,
        as_double_array,
        brute_force_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    v = as_double_array("embedding")
    qemb = emb.select(
        F.col("vec_id"), v.alias("_v"), _norm(v).alias("_n")
    ).select(
        "vec_id",
        F.transform(
            "_v", lambda x: (F.lit(127.0) * x / F.col("_n")).cast("int").cast("double")
        ).alias("embedding"),
    )
    zq = qemb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ap = brute_force_topk(qemb, zq, k=5).select("query_id", "vec_id")
    bf = sim_topk_bruteforce(spark, sf_dir).select("query_id", "vec_id")
    return _recall_fold(bf, ap)


@register(
    "ab_test_welch",
    """
    WITH u AS (
      SELECT user_id, avg(value) AS um,
             ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::UBIGINT % 2 AS g
      FROM events GROUP BY user_id),
    s AS (SELECT g, CAST(count(*) AS BIGINT) AS n, avg(um) AS m,
                 var_samp(um) AS v
          FROM u GROUP BY g),
    w AS (SELECT
            max(CASE WHEN g = 0 THEN n END) AS n_a,
            max(CASE WHEN g = 1 THEN n END) AS n_b,
            max(CASE WHEN g = 0 THEN m END) AS ma,
            max(CASE WHEN g = 1 THEN m END) AS mb,
            max(CASE WHEN g = 0 THEN v END) AS va,
            max(CASE WHEN g = 1 THEN v END) AS vb
          FROM s)
    SELECT n_a, n_b, round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
           round(va, 6) AS var_a, round(vb, 6) AS var_b,
           round((ma - mb) / sqrt(va / n_a + vb / n_b), 6) AS t_stat,
           round(pow(va / n_a + vb / n_b, 2)
                 / (pow(va / n_a, 2) / (n_a - 1)
                    + pow(vb / n_b, 2) / (n_b - 1)), 6) AS df_welch
    FROM w
    """,
)
def ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users are hash-split 50/50 by the same
    content-addressed md5 bucket as split_train_val_test (deterministic,
    engine-portable — no RAND()), the per-user metric is their mean event
    value, and the arms are compared with Welch's unequal-variance t-test
    (functions/pipeline.welch_ttest). Two aggregation passes total —
    per-user means (one user-keyed exchange), then the two-arm
    count/mean/variance pass — and the t/df arithmetic runs on a single
    row. An md5 split of a random user population should read as null:
    |t| small at thousands of df."""
    from windflow_spark.functions.pipeline import welch_ttest

    e = _t(spark, sf_dir, "events")
    bucket = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 2
    )
    u = (
        e.groupBy("user_id")
        .agg(F.avg("value").alias("um"))
        .select(bucket.alias("g"), "um")
    )
    return welch_ttest(u, "g", "um", 0, 1)


@register(
    "cdc_upsert_latest",
    """
    WITH ch AS (
      SELECT o_custkey AS k, o_totalprice AS bal,
             CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC)
               AS rn
      FROM orders),
    latest AS (SELECT k, bal, op FROM ch WHERE rn = 1),
    m AS (SELECT c.c_custkey, c.c_acctbal, c.c_mktsegment,
                 l.k, l.bal, l.op
          FROM customer c FULL OUTER JOIN latest l ON c.c_custkey = l.k)
    SELECT CAST(coalesce(c_custkey, k) AS BIGINT) AS cust_key,
           CASE WHEN op IS NULL THEN c_acctbal ELSE bal END AS acct_bal,
           coalesce(c_mktsegment, 'UNKNOWN') AS segment,
           CASE WHEN op IS NULL THEN 'base'
                WHEN c_custkey IS NULL THEN 'inserted'
                ELSE 'updated' END AS merge_src
    FROM m
    WHERE op IS NULL OR op <> 'D'
    """,
)
def cdc_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge (MERGE INTO / SCD type-1): fold a change feed into the
    customer snapshot with latest-wins semantics via
    operators/cdc.upsert_latest. The feed is derived from orders — each
    order is an account-balance upsert stamped (o_orderdate, o_orderkey),
    and a final-status ('F') winner deletes the account — exercising all
    three merge paths (update, insert of change-only keys, delete).
    One window pass picks the winner per key; ONE co-partitioned
    full-outer join applies it (the key exchange is reused between the
    window and the join — plan-budget-pinned). Complements
    scd2_customer_status: SCD2 keeps the whole history, this keeps the
    final state."""
    from windflow_spark.operators.cdc import upsert_latest
    from windflow_spark.operators.timeutil import event_micros

    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("cust_key"),
        F.col("c_acctbal").alias("acct_bal"),
        F.col("c_mktsegment").alias("segment"),
    )
    o = _t(spark, sf_dir, "orders")
    ch = o.select(
        F.col("o_custkey").cast("long").alias("cust_key"),
        event_micros(o, "o_orderdate").alias("ts"),
        F.col("o_orderkey").alias("seq"),
        F.col("o_totalprice").alias("acct_bal"),
        F.when(F.col("o_orderstatus") == "F", "D").otherwise("U").alias("op"),
    )
    m = upsert_latest(c, ch, "cust_key", ["ts", "seq"], op_col="op")
    return m.select(
        "cust_key",
        "acct_bal",
        F.coalesce(F.col("segment"), F.lit("UNKNOWN")).alias("segment"),
        F.col("_merge_src").alias("merge_src"),
    )


@register(
    "incremental_agg_merge",
    """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(CAST(value AS DECIMAL(18,6))), 2)::DOUBLE AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a stored daily summary
    (the 'base' partials, everything before a cutoff day) is refreshed by
    aggregating ONLY the delta partition and merging partials —
    count/sum are mergeable, so union + re-aggregate of two partial
    frames is algebraically identical to the full recompute the oracle
    runs. At 100 TB this is the difference between rescanning the whole
    fact table on every refresh and scanning one day: the delta branch's
    predicate pushes to the scan (plan-pinned), the merge re-aggregation
    touches only summary-sized frames, and the same shape extends to any
    algebraic aggregate (sum/count/min/max, HLL registers, M2 moments)."""
    e = _t(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-24").cast("timestamp")
    day = F.date_trunc("day", F.col("ts")).cast("date").alias("day")

    def partials(df):
        return df.groupBy(day, "event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("_sv"),
        )

    base = partials(e.filter(F.col("ts") < cutoff))
    delta = partials(e.filter(F.col("ts") >= cutoff))
    return (
        base.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.round(F.sum("_sv"), 2).cast("double").alias("sum_value"),
        )
    )


@register(
    "bloom_prefilter_join",
    """
    SELECT CAST(s.s_suppkey AS BIGINT) AS supp_key, s.s_name,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))), 2)::DOUBLE AS revenue
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE s.s_nationkey = 3
    GROUP BY s.s_suppkey, s.s_name
    """,
)
def bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective fact⋈dim join accelerated by an explicit bloom-filter
    semi-join reduction (functions/bloom.py): the nation-3 supplier keys
    fold into a 64 Kbit bit-array filter (one bounded aggregation), the
    one-row filter broadcasts, and the lineitem scan drops non-members
    BEFORE any shuffle with k=3 codegen bit tests per row. The real join
    behind the pre-filter keeps the result EXACT regardless of false
    positives, so the oracle is the plain join. At 100 TB the pre-filter
    is what turns a full fact shuffle into a matching-fraction shuffle
    when the join can't broadcast (measured on the skewed 10× probe:
    SCALE.md)."""
    from windflow_spark.functions.bloom import bloom_build, bloom_prefilter

    sup = _t(spark, sf_dir, "supplier").filter(F.col("s_nationkey") == 3)
    li = _t(spark, sf_dir, "lineitem")
    bf = bloom_build(sup, "s_suppkey", m_bits=1 << 16, k=3)
    pre = bloom_prefilter(li, "l_suppkey", bf, m_bits=1 << 16, k=3)
    j = pre.join(sup, pre.l_suppkey == sup.s_suppkey)
    return j.groupBy(
        F.col("s_suppkey").cast("long").alias("supp_key"), F.col("s_name")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        _dsum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias("revenue"),
    )


def _zorder_tiles_sql() -> str:
    from windflow_spark.functions.layout import zvalue_sql

    z = zvalue_sql("ck", "dy", bits=18)
    return f"""
    WITH b AS (
      SELECT o_orderkey, o_custkey AS ck,
             date_diff('day', DATE '1995-01-01', o_orderdate) AS dy
      FROM orders),
    z AS (SELECT o_orderkey, ck, dy, ({z}) AS zv FROM b),
    t AS (SELECT ck, dy,
                 ntile(64) OVER (ORDER BY zv, o_orderkey) AS tile
          FROM z)
    SELECT CAST(tile AS BIGINT) AS tile, CAST(count(*) AS BIGINT) AS n,
           CAST(max(ck) - min(ck) AS BIGINT) AS ck_span,
           CAST(max(dy) - min(dy) AS BIGINT) AS day_span
    FROM t GROUP BY tile
    """


@register("zorder_locality_tiles", _zorder_tiles_sql())
def zorder_locality_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout audit: Morton-interleave (customer key × day index)
    (functions/layout.zvalue — pure codegen bit arithmetic), slice the
    z-ordering into 64 equal-count tiles (what 64 output files would
    contain), and report each tile's customer-key span and day span. A
    good multi-dimensional layout keeps BOTH spans small per tile — this
    is the audit a warehouse runs before committing to a ZORDER BY
    clustering, and the read-side payoff (row-group min/max pruning on
    2-D predicates) is measured in tests/test_layout.py on real parquet
    footers. The ntile is a global range sort — the same single
    SinglePartition-exchange shape as bin_equal_freq, paid at write time
    in the real pipeline."""
    from windflow_spark.functions.layout import zvalue

    o = _t(spark, sf_dir, "orders")
    b = o.select(
        "o_orderkey",
        F.col("o_custkey").alias("ck"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("date")
        ).alias("dy"),
    )
    z = b.withColumn("zv", zvalue(F.col("ck"), F.col("dy"), bits=18))
    t = z.withColumn(
        "tile", F.ntile(64).over(W.orderBy(F.col("zv"), F.col("o_orderkey")))
    )
    return t.groupBy(F.col("tile").cast("long").alias("tile")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.max("ck") - F.min("ck")).cast("long").alias("ck_span"),
        (F.max("dy") - F.min("dy")).cast("long").alias("day_span"),
    )


def _pq_d2_sql(a: str, b: str) -> str:
    return (
        f"round((list_inner_product({a}, {a})"
        f" - 2 * list_inner_product({a}, {b}))"
        f" + list_inner_product({b}, {b}), 6)"
    )


def _pq_assign_cte(out: str, cent: str) -> str:
    d2 = _pq_d2_sql("es.sv", "c.cv")
    return f"""{out} AS (SELECT vec_id, sub, sv, bkt FROM (
      SELECT es.vec_id, es.sub, es.sv, c.bkt,
             row_number() OVER (PARTITION BY es.vec_id, es.sub
                ORDER BY {d2} ASC, c.bkt) AS ark
      FROM es JOIN {cent} c ON es.sub = c.sub) WHERE ark = 1)"""


def _pq_update_cte(out: str, assigned: str) -> str:
    return f"""{out} AS (SELECT sub, bkt, list(av ORDER BY dim) AS cv FROM (
      SELECT sub, bkt, u.i AS dim, round(avg(sv[u.i]), 6) AS av
      FROM {assigned}, unnest(generate_series(1, len(sv))) AS u(i)
      GROUP BY sub, bkt, u.i) GROUP BY sub, bkt)"""


def _pq_ctes(m: int, k: int, dim: int = 64) -> str:
    sub = dim // m
    subs = ", ".join(str(j) for j in range(m))
    return f"""
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    es AS (SELECT vec_id, u.j AS sub, v[u.j*{sub}+1 : u.j*{sub}+{sub}] AS sv
           FROM e, unnest([{subs}]) AS u(j)),
    p0 AS (SELECT sub, vec_id::BIGINT AS bkt, sv AS cv FROM es
           WHERE vec_id < {k}),
    {_pq_assign_cte("pa1", "p0")},
    {_pq_update_cte("pc1", "pa1")},
    {_pq_assign_cte("pa2", "pc1")},
    {_pq_update_cte("pc2", "pa2")},
    {_pq_assign_cte("paf", "pc2")},
    pqs AS (SELECT vec_id AS query_id, sub, sv AS qsv FROM es
            WHERE vec_id < 10),
    pdt AS (SELECT q.query_id, q.sub, c.bkt,
                   {_pq_d2_sql("q.qsv", "c.cv")} AS d2
            FROM pqs q JOIN pc2 c ON q.sub = c.sub),
    padc AS (SELECT d.query_id, a.vec_id, round(sum(d.d2), 6) AS adc_d2
             FROM paf a JOIN pdt d ON a.sub = d.sub AND a.bkt = d.bkt
             WHERE a.vec_id <> d.query_id
             GROUP BY d.query_id, a.vec_id),
    prk AS (SELECT query_id, vec_id, adc_d2,
                   CAST(row_number() OVER (PARTITION BY query_id
                          ORDER BY adc_d2 ASC, vec_id) AS BIGINT) AS rk
            FROM padc)"""


_PQ_CTES = _pq_ctes(m=8, k=16)


@register(
    "sim_topk_pq",
    f"""
    WITH {_PQ_CTES}
    SELECT query_id, vec_id, adc_d2, rk FROM prk WHERE rk <= 5
    """,
)
def sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN (functions/similarity.pq_topk): 8 subspaces
    of 8 dims, 16 centroids each (nibble codes) trained JOINTLY by 2
    distributed Lloyd iterations over the subvector explode (deterministic
    init, 6dp-rounded means — the same oracle-mirrorable training
    discipline as sim_topk_ivf_kmeans), corpus encoded to 8×4-bit codes
    per vector, queries answered by asymmetric distance computation: a
    Q·m·k exact distance table broadcast onto the code frame, candidates
    ranked by summed lookups. Completes the registry's deploy spectrum:
    float32 exact → int8 (4× smaller, sim_quantized_recall) → PQ (64×
    smaller here, sim_pq_recall)."""
    from windflow_spark.functions.similarity import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_topk(
        emb, queries_df, k=5, m=8, n_centroids=16, cache_key=sf_dir
    )


@register(
    "sim_pq_recall",
    f"""
    WITH {_PQ_CTES},
    qf AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    bf_s AS (SELECT qf.query_id, e.vec_id,
                    {_pq_d2_sql("qf.qv", "e.v")} AS d2
             FROM e JOIN qf ON e.vec_id <> qf.query_id),
    bf AS (SELECT query_id, vec_id FROM (
             SELECT query_id, vec_id,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY d2 ASC, vec_id) AS brk
             FROM bf_s) WHERE brk <= 5),
    h AS (SELECT bf.query_id, count(*) AS n_hits
          FROM bf JOIN prk ON bf.query_id = prk.query_id
                          AND bf.vec_id = prk.vec_id AND prk.rk <= 5
          GROUP BY bf.query_id),
    n AS (SELECT query_id, count(*) AS n_exact FROM bf GROUP BY query_id)
    SELECT n.query_id, coalesce(n_hits, 0)::BIGINT AS n_hits,
           coalesce(n_hits, 0)::DOUBLE / n_exact AS recall
    FROM n LEFT JOIN h USING (query_id)
    """,
)
def sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of PQ-ADC ranking against the exact full-vector L2 top-5 —
    the quality cost of 64× compression, next to sim_quantized_recall's
    int8 (4×) and sim_ivf_kmeans_recall's coarse-only numbers. The exact
    side is a size-guarded broadcast of the 10-query frame (the
    sim_topk_bruteforce BNLJ contract) with squared-L2 ranking."""
    from windflow_spark.functions.similarity import (
        _l2d2,
        as_double_array,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("_v")
    )
    qf = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("_v").alias("_qv")
    )
    bf_s = (
        emb.crossJoin(F.broadcast(qf))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            _l2d2(F.col("_qv"), F.col("_v")).alias("d2"),
        )
    )
    wq = W.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("vec_id"))
    bf = (
        bf_s.withColumn("brk", F.row_number().over(wq))
        .filter(F.col("brk") <= 5)
        .select("query_id", "vec_id")
    )
    pq = sim_topk_pq(spark, sf_dir).select("query_id", "vec_id")
    return _recall_fold(bf, pq)


@register(
    "attribution_last_touch",
    """
    WITH a AS (
      SELECT user_id, event_type, value, ts, event_id,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS channel
      FROM events)
    SELECT coalesce(channel, 'direct') AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           round(sum(CAST(value AS DECIMAL(18,6))), 2)::DOUBLE AS attributed_revenue
    FROM a WHERE event_type = 'purchase'
    GROUP BY coalesce(channel, 'direct')
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase credits its value
    to the last non-purchase event type STRICTLY before it in the user's
    stream (frame ... AND 1 PRECEDING — a purchase must not attribute to
    itself); purchases with no prior touch credit 'direct'. One per-user
    window ordering (the forward-fill exchange shape) + one channel
    aggregation — co-partitioned, nothing quadratic, and the window state
    is one carried string per user at 100 TB. Completes the behavioral
    family: funnel (did they convert), cohort (do they return),
    attribution (what gets the credit)."""
    e = _t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    a = e.withColumn(
        "channel",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        ).over(w),
    )
    return (
        a.filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("channel"), F.lit("direct")).alias("channel"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            _dsum(F.col("value")).alias("attributed_revenue"),
        )
    )


@register(
    "k_anonymity_audit",
    """
    WITH cls AS (
      SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS k
      FROM customer GROUP BY c_nationkey, c_mktsegment)
    SELECT CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(k) AS BIGINT) AS n_rows,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(sum(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_classes_below_5,
           CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
             AS n_rows_below_5
    FROM cls
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple (nation, market
    segment): the data-governance gate a dataset must pass before
    release — every QI equivalence class should hold at least k
    individuals, and the rows in classes below the threshold are the
    re-identification exposure. ONE keyed exchange builds the class
    sizes; the report is a single global aggregation over the reduced
    class frame. The same two-pass shape holds for any QI arity at
    100 TB (classes shrink as QI columns grow — the audit's cost does
    not). Output: one row (n_classes, n_rows, min_k, n_classes_below_5,
    n_rows_below_5)."""
    c = _t(spark, sf_dir, "customer")
    cls = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    below = F.col("k") < 5
    return cls.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum("k").cast("long").alias("n_rows"),
        F.min("k").cast("long").alias("min_k"),
        F.sum(F.when(below, 1).otherwise(0)).cast("long").alias(
            "n_classes_below_5"
        ),
        F.sum(F.when(below, F.col("k")).otherwise(0)).cast("long").alias(
            "n_rows_below_5"
        ),
    )


@register(
    "ts_seasonal_dow",
    """
    WITH d AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             round(sum(CAST(value AS DECIMAL(18,6))), 6)::DOUBLE AS daily
      FROM events GROUP BY 1, 2),
    s AS (SELECT event_type, day, daily,
                 round(avg(daily) OVER (PARTITION BY event_type,
                                        dayofweek(day)), 6) AS seasonal
          FROM d)
    SELECT event_type, day, daily, seasonal,
           round(daily - seasonal, 6) AS residual
    FROM s
    """,
)
def ts_seasonal_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonal decomposition of the daily event-value series:
    seasonal component = the mean of the series on the same day-of-week,
    residual = daily − seasonal (the deseasonalized signal anomaly
    detectors should consume instead of the raw series —
    ts_zscore_anomaly / ts_mad_anomaly flag every weekend otherwise).
    One (type, day) aggregation, then a window mean over the reduced
    daily frame partitioned by (type, dow) — both exchanges touch only
    summary-sized data after the first pass. Daily sums are 6dp-rounded
    BEFORE the seasonal mean so both engines average identical inputs."""
    e = _t(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
    ).agg(F.round(F.sum(F.col("value").cast("decimal(18,6)")), 6).cast("double").alias("daily"))
    # Spark dayofweek: 1=Sunday..7=Saturday; DuckDB dayofweek: 0=Sunday..6
    # — both are constant WITHIN a (type, dow) partition, so partitioning
    # by either numbering yields identical groups.
    wsea = W.partitionBy("event_type", F.dayofweek("day"))
    s = d.withColumn("seasonal", F.round(F.avg("daily").over(wsea), 6))
    return s.select(
        "event_type",
        "day",
        "daily",
        "seasonal",
        F.round(F.col("daily") - F.col("seasonal"), 6).alias("residual"),
    )


@register(
    "itemitem_cosine_topk",
    """
    WITH b0 AS (
      SELECT o.o_custkey AS ck, l.l_partkey AS pk, max(o.o_orderdate) AS md
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2),
    b AS (SELECT ck, pk FROM (
            SELECT ck, pk, row_number() OVER (PARTITION BY ck
                     ORDER BY md DESC, pk) AS rn
            FROM b0) WHERE rn <= 10),
    cnt AS (SELECT pk, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY pk),
    pr AS (SELECT a.pk AS pa, b2.pk AS pb, CAST(count(*) AS BIGINT) AS cooc
           FROM b a JOIN b b2 ON a.ck = b2.ck AND a.pk < b2.pk
           GROUP BY 1, 2
           HAVING count(*) >= 2),
    sym AS (SELECT pa AS item_a, pb AS item_b, cooc FROM pr
            UNION ALL
            SELECT pb, pa, cooc FROM pr),
    sc AS (SELECT s.item_a, s.item_b, s.cooc,
                  round(s.cooc / sqrt(ca.n * cb.n), 6) AS cosine_sim
           FROM sym s JOIN cnt ca ON s.item_a = ca.pk
                      JOIN cnt cb ON s.item_b = cb.pk)
    SELECT item_a, item_b, cooc, cosine_sim,
           CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, row_number() OVER (PARTITION BY item_a
                      ORDER BY cosine_sim DESC, item_b) AS rk
          FROM sc)
    WHERE rk <= 3
    """,
)
def itemitem_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: top-3 most-similar parts per
    part by co-occurrence cosine over customer baskets — the classic
    neighborhood rec-sys build. The scale discipline is the BASKET CAP:
    each customer contributes only their 10 most recently purchased
    distinct items (recency rank, deterministic tie-break), so the
    pair-generating self-join emits ≤ C(10,2)=45 rows per customer —
    LINEAR in customers, never quadratic in catalog or history (the same
    width-cap move as dedup_minhash_lsh_capped's bucket cap). Support
    ≥ 2 prunes noise pairs before the cosine; cosine = cooc/√(n_a·n_b)
    on exact BIGINTs. Everything shuffles on either custkey or item —
    co-partitioned joins at 100 TB."""
    from windflow_spark.operators.recsys import capped_baskets, itemitem_topk

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return itemitem_topk(
        capped_baskets(li, o, basket_cap=10),
        min_cooc=2,
        topk=3,
        item_est_bytes=_catalog_est(sf_dir, 1, 16),
    )


def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The u<v co-purchase edge list shared by `graph_triangle_count`,
    `k_core_copurchase`, `k_core_fixed_point` and
    `graph_assortativity_copurchase`: parts with p_size <= 25 bought in
    the same order are adjacent. Edges are generated in-row from the
    sorted per-order basket arrays (baskets are bounded per order), never
    by an order-keyed self-join. There is no pre-basket `.distinct()`:
    `collect_set` dedups (ok, pk) itself (and Catalyst's
    RemoveRedundantAggregates drops such a distinct below a collect_set
    anyway, so the plan is the same either way)."""
    pt = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 25).select("p_partkey")
    li = (
        _t(spark, sf_dir, "lineitem")
        .join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
    )
    baskets = li.groupBy("ok").agg(F.array_sort(F.collect_set("pk")).alias("ps"))
    return (
        baskets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ps"),
                        lambda x, i: F.transform(
                            F.slice(F.col("ps"), i + 2, F.size(F.col("ps"))),
                            lambda y: F.struct(x.alias("u"), y.alias("v")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.u", "p.v")
        .distinct()
    )


def _degrees(e: DataFrame) -> DataFrame:
    """Per-node degree (n, d) of a u<v edge list: one keyed count over
    both endpoint columns."""
    return (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )


@register(
    "graph_triangle_count",
    """
    WITH li AS (SELECT DISTINCT l.l_orderkey AS ok, l.l_partkey AS pk
                FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
                WHERE p.p_size <= 25),
    e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
          FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
    deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
            FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
            GROUP BY 1),
    tri AS (SELECT count(*) AS t
            FROM e e1 JOIN e e2 ON e1.v = e2.u
                      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM e) AS edges,
           (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg)
             AS open_wedges,
           (SELECT CAST(t AS BIGINT) FROM tri) AS triangles,
           round(3.0 * (SELECT t FROM tri)
                 / (SELECT sum(d * (d - 1) / 2.0) FROM deg), 6)
             AS global_clustering
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the co-purchase
    graph (parts co-occurring in an order are adjacent). The oracle uses
    the textbook a<b<c three-way self-join; the Spark plan uses the
    DEGREE-ORIENTED wedge algorithm (each edge directed from its
    lower-(degree,id) endpoint, wedges enumerated between out-neighbors,
    closed by one more join) — the same count, but the wedge set shrinks
    from sum(C(deg,2)) to O(m^1.5): on a power-law co-purchase graph at
    100 TB the hub vertices would otherwise generate quadratic wedge
    blowups on single keys. The edge list is `_copurchase_pairs`."""
    from windflow_spark.operators.graph import triangle_count

    return triangle_count(_copurchase_pairs(spark, sf_dir))


@register(
    "assoc_rules_lift",
    """
    WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                FROM lineitem),
    n AS (SELECT count(DISTINCT ok) AS nb FROM li),
    cnt AS (SELECT pk, CAST(count(*) AS BIGINT) AS c FROM li GROUP BY pk),
    pr AS (SELECT a.pk AS pa, b.pk AS pb, CAST(count(*) AS BIGINT) AS cooc
           FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
           GROUP BY 1, 2
           HAVING count(*) >= 2),
    rules AS (SELECT pa AS antecedent, pb AS consequent, cooc FROM pr
              UNION ALL
              SELECT pb, pa, cooc FROM pr),
    sc AS (SELECT r.antecedent, r.consequent, r.cooc,
                  round(r.cooc / CAST((SELECT nb FROM n) AS DOUBLE), 6)
                    AS support,
                  round(r.cooc / CAST(ca.c AS DOUBLE), 6) AS confidence,
                  (r.cooc * (SELECT nb FROM n)) / CAST(ca.c * cb.c AS DOUBLE)
                    AS lift_raw
           FROM rules r JOIN cnt ca ON r.antecedent = ca.pk
                        JOIN cnt cb ON r.consequent = cb.pk)
    SELECT antecedent, consequent, cooc, support, confidence,
           round(lift_raw, 6) AS lift
    FROM sc
    ORDER BY lift_raw DESC, confidence DESC, antecedent, consequent
    LIMIT 20
    """,
)
def assoc_rules_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over order baskets: top-20 rules by lift
    with support count >= 2. support = cooc/N, confidence = cooc/n_a,
    lift = cooc*N/(n_a*n_b) — all from exact BIGINTs so both engines
    compute identical doubles; ordering uses the RAW lift (bit-identical
    IEEE ops) with (confidence, antecedent, consequent) tie-breaks. Scale
    shape mirrors itemitem_cosine_topk: order baskets are naturally
    bounded (a few lineitems each), pairs are generated IN-ROW from the
    collected basket array with per-item counts riding a window — linear
    in orders, and the global top-20 is a TakeOrdered, never a full
    sort."""
    # r12 (guide §2.4, the assoc_rules_triples discipline): ONE hash(ok)
    # exchange serves the whole chain — the (ok, pk) distinct and the
    # basket groupBy both cluster by supersets of ok, so neither adds an
    # exchange; the per-item counts ride back in as a guarded broadcast
    # join instead of a full-frame pk window (sort + exchange gone); the
    # basket total stays IN-PLAN as a one-row broadcast aggregate instead
    # of an eager driver count job (guide §5).
    li = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .repartition(spark.sparkContext.defaultParallelism, "ok")
        .distinct()
    )
    nb = (
        li.select("ok")
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("nb"))
    )
    cnt = li.groupBy("pk").agg(F.count(F.lit(1)).cast("long").alias("c"))
    cn = li.join(maybe_broadcast(cnt, _catalog_est(sf_dir, 1, 16)), "pk")
    baskets = cn.groupBy("ok").agg(
        F.array_sort(F.collect_list(F.struct("pk", "c"))).alias("items")
    )

    def _rule(a, ca, b, cb):
        return F.struct(
            a.alias("pa"), ca.alias("ca"), b.alias("pb"), cb.alias("cb")
        )

    pairs = baskets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("items"),
                    lambda x, i: F.flatten(
                        F.transform(
                            F.slice(
                                F.col("items"), i + 2, F.size(F.col("items"))
                            ),
                            lambda y: F.array(
                                _rule(x["pk"], x["c"], y["pk"], y["c"]),
                                _rule(y["pk"], y["c"], x["pk"], x["c"]),
                            ),
                        )
                    ),
                )
            )
        ).alias("p")
    ).select("p.pa", "p.ca", "p.pb", "p.cb")
    sc = (
        pairs.groupBy("pa", "ca", "pb", "cb")
        .agg(F.count(F.lit(1)).cast("long").alias("cooc"))
        .filter(F.col("cooc") >= 2)
        .crossJoin(F.broadcast(nb))  # one-row scalar attach
        .select(
            F.col("pa").alias("antecedent"),
            F.col("pb").alias("consequent"),
            "cooc",
            F.round(
                F.col("cooc") / F.col("nb").cast("double"), 6
            ).alias("support"),
            F.round(
                F.col("cooc") / F.col("ca").cast("double"), 6
            ).alias("confidence"),
            (
                (F.col("cooc") * F.col("nb"))
                / (F.col("ca") * F.col("cb")).cast("double")
            ).alias("lift_raw"),
        )
    )
    return (
        sc.orderBy(
            F.col("lift_raw").desc(),
            F.col("confidence").desc(),
            "antecedent",
            "consequent",
        )
        .limit(20)
        .select(
            "antecedent",
            "consequent",
            "cooc",
            "support",
            "confidence",
            F.round("lift_raw", 6).alias("lift"),
        )
    )


@register(
    "rfm_customer_segments",
    """
    WITH c AS (SELECT o_custkey AS ck, max(o_orderdate) AS last_order,
                      CAST(count(*) AS BIGINT) AS freq,
                      CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                           AS BIGINT) AS mon_c
               FROM orders GROUP BY 1),
    s AS (SELECT ck,
                 date_diff('day', CAST(last_order AS DATE),
                           CAST((SELECT max(last_order) FROM c) AS DATE))
                   AS rec_days,
                 freq, mon_c FROM c),
    q AS (SELECT CAST(ntile(5) OVER (ORDER BY rec_days, ck) AS BIGINT)
                   AS r_q,
                 CAST(ntile(5) OVER (ORDER BY freq DESC, ck) AS BIGINT)
                   AS f_q,
                 CAST(ntile(5) OVER (ORDER BY mon_c DESC, ck) AS BIGINT)
                   AS m_q,
                 rec_days, mon_c FROM s)
    SELECT r_q, f_q, m_q,
           CASE WHEN r_q <= 2 AND f_q <= 2 AND m_q <= 2 THEN 'champion'
                WHEN r_q >= 4 AND f_q >= 4 AND m_q >= 4 THEN 'lost'
                WHEN r_q >= 4 AND f_q <= 2 THEN 'at_risk'
                WHEN r_q <= 2 AND f_q >= 4 THEN 'fresh'
                ELSE 'regular' END AS segment,
           CAST(count(*) AS BIGINT) AS customers,
           CAST((200 * sum(rec_days) + count(*)) // (2 * count(*))
                AS DOUBLE) / 100.0 AS avg_recency_days,
           CAST((2 * sum(mon_c) + count(*)) // (2 * count(*))
                AS DOUBLE) / 100.0 AS avg_monetary
    FROM q GROUP BY 1, 2, 3, 4
    """,
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation: exact
    quintile scores per metric (quintile 1 = best), CASE-labelled
    segments, and per-cell counts/averages (<=125 cells). Quintiles are
    ntile(5) with (metric, custkey) deterministic ordering — a global
    sort over the PER-CUSTOMER frame (dimension-sized, not fact-sized);
    at 100 TB swap the exact ntile for sketch cutpoints exactly as
    bin_equal_freq_approx does — the segmentation CASE and rollup are
    unchanged. Recency anchor = corpus max order date via a window max
    (no driver round-trip)."""
    c = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("ck"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
            ).cast("long").alias("mon_c"),
        )
    )
    wg = W.partitionBy()
    s = c.select(
        "ck",
        F.datediff(
            F.to_date(F.max("last_order").over(wg)), F.to_date("last_order")
        ).alias("rec_days"),
        "freq",
        "mon_c",
    )
    q = s.select(
        F.ntile(5).over(W.orderBy("rec_days", "ck")).cast("long").alias("r_q"),
        F.ntile(5)
        .over(W.orderBy(F.col("freq").desc(), "ck"))
        .cast("long")
        .alias("f_q"),
        F.ntile(5)
        .over(W.orderBy(F.col("mon_c").desc(), "ck"))
        .cast("long")
        .alias("m_q"),
        "rec_days",
        "mon_c",
    )
    seg = (
        F.when(
            (F.col("r_q") <= 2) & (F.col("f_q") <= 2) & (F.col("m_q") <= 2),
            F.lit("champion"),
        )
        .when(
            (F.col("r_q") >= 4) & (F.col("f_q") >= 4) & (F.col("m_q") >= 4),
            F.lit("lost"),
        )
        .when((F.col("r_q") >= 4) & (F.col("f_q") <= 2), F.lit("at_risk"))
        .when((F.col("r_q") <= 2) & (F.col("f_q") >= 4), F.lit("fresh"))
        .otherwise(F.lit("regular"))
    )
    # decimal-exact HALF_UP without float round(): (2a+b) div (2b) on
    # BIGINTs is the same integer on both engines, then one exact /100.0
    # (Spark's round() parses the SHORTEST decimal repr of a double while
    # DuckDB rounds the binary value -- they disagree at true .xx5 ties)
    return (
        q.withColumn("segment", seg)
        .groupBy("r_q", "f_q", "m_q", "segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("customers"),
            F.sum(F.col("rec_days").cast("long")).alias("_sr"),
            F.sum("mon_c").alias("_sm"),
        )
        .select(
            "r_q",
            "f_q",
            "m_q",
            "segment",
            "customers",
            (
                F.expr("(200 * _sr + customers) div (2 * customers)").cast(
                    "double"
                )
                / F.lit(100.0)
            ).alias("avg_recency_days"),
            (
                F.expr("(2 * _sm + customers) div (2 * customers)").cast(
                    "double"
                )
                / F.lit(100.0)
            ).alias("avg_monetary"),
        )
    )


@register(
    "survival_kaplan_meier",
    """
    WITH cust AS (SELECT o_custkey AS ck, min(o_orderdate) AS first_o,
                         max(o_orderdate) AS last_o
                  FROM orders GROUP BY 1),
    s AS (SELECT date_diff('day', CAST(first_o AS DATE),
                           CAST(last_o AS DATE)) // 7 AS wk,
                 CASE WHEN date_diff('day', CAST(last_o AS DATE),
                        CAST((SELECT max(last_o) FROM cust) AS DATE)) >= 90
                      THEN 1 ELSE 0 END AS obs
          FROM cust),
    ev AS (SELECT CAST(wk AS BIGINT) AS week,
                  CAST(sum(obs) AS BIGINT) AS n_events,
                  CAST(count(*) - sum(obs) AS BIGINT) AS n_censored
           FROM s GROUP BY 1),
    km AS (SELECT week, n_events, n_censored,
                  CAST((SELECT count(*) FROM s)
                       - COALESCE(sum(n_events + n_censored)
                           OVER (ORDER BY week ROWS BETWEEN UNBOUNDED
                                 PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS n_risk
           FROM ev)
    SELECT week, n_risk, n_events, n_censored,
           round(exp(sum(ln(1 - n_events / CAST(n_risk AS DOUBLE)))
                     OVER (ORDER BY week)), 6) AS survival
    FROM km
    """,
)
def survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate of customer lifetime (weeks between
    first and last order), right-censored: a customer still ordering
    within 90 days of the corpus end is censored, not churned. The
    estimator S(t) = prod(1 - d_i/n_i) is computed as exp(cumsum(ln)) —
    the distributed form of a running product (both engines fold the SAME
    per-week doubles in week order, so 6dp rounding is stable). At-risk
    counts come from ONE cumulative window over the week-level frame
    (#weeks rows, tiny); the only fact-sized exchange is the per-customer
    agg. The week frame after aggregation is timeline-sized — at 100 TB
    this is thousands of rows regardless of corpus size."""
    cust = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("ck"))
        .agg(
            F.min("o_orderdate").alias("first_o"),
            F.max("o_orderdate").alias("last_o"),
        )
    )
    wg = W.partitionBy()
    s = cust.select(
        F.floor(
            F.datediff(F.to_date("last_o"), F.to_date("first_o")) / 7
        )
        .cast("long")
        .alias("wk"),
        F.when(
            F.datediff(
                F.to_date(F.max("last_o").over(wg)), F.to_date("last_o")
            )
            >= 90,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("obs"),
    )
    ev = s.groupBy(F.col("wk").alias("week")).agg(
        F.sum("obs").cast("long").alias("n_events"),
        (F.count(F.lit(1)) - F.sum("obs")).cast("long").alias("n_censored"),
    )
    wcum = W.orderBy("week").rowsBetween(W.unboundedPreceding, -1)
    wsur = W.orderBy("week")
    km = ev.withColumn(
        "n_risk",
        (
            F.sum(F.col("n_events") + F.col("n_censored")).over(wg)
            - F.coalesce(
                F.sum(F.col("n_events") + F.col("n_censored")).over(wcum),
                F.lit(0),
            )
        ).cast("long"),
    )
    return km.select(
        "week",
        "n_risk",
        "n_events",
        "n_censored",
        F.round(
            F.exp(
                F.sum(
                    F.log(
                        F.lit(1)
                        - F.col("n_events") / F.col("n_risk").cast("double")
                    )
                ).over(wsur)
            ),
            6,
        ).alias("survival"),
    )


@register(
    "ts_changepoint_meanshift",
    f"""
    WITH d AS (SELECT event_type,
                      CAST(epoch_us(ts) // {US_DAY} AS BIGINT) AS day,
                      CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                           AS BIGINT) AS vc
               FROM events GROUP BY 1, 2),
    w AS (SELECT event_type, day, vc,
                 sum(vc) OVER (PARTITION BY event_type ORDER BY day) AS ps,
                 CAST(row_number() OVER (PARTITION BY event_type
                        ORDER BY day) AS BIGINT) AS k,
                 sum(vc) OVER (PARTITION BY event_type) AS tot,
                 CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
                   AS n
          FROM d),
    st AS (SELECT event_type, day, k, n,
                  ps / (100.0 * k) AS mean_before,
                  (tot - ps) / (100.0 * (n - k)) AS mean_after,
                  sqrt(k * (n - k) / CAST(n AS DOUBLE))
                    * abs(ps / (100.0 * k)
                          - (tot - ps) / (100.0 * (n - k))) AS stat
           FROM w WHERE k < n)
    SELECT event_type, make_timestamp(day * {US_DAY}) AS change_day,
           stat AS shift_stat, mean_before, mean_after
    FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                      ORDER BY stat DESC, day) AS rn
          FROM st)
    WHERE rn = 1
    """,
)
def ts_changepoint_meanshift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single most-likely changepoint per event-type series (binary
    segmentation step): the split day maximizing the scaled two-sample
    mean shift sqrt(k(n-k)/n)*|mean_L - mean_R| over the daily
    value-total series. Daily totals are EXACT CENTS (BIGINT) so prefix
    sums are order-independent and every downstream double — means,
    statistic, the argmax ordering — is bit-identical across engines and
    partitionings; outputs are raw doubles, no rounding needed. One
    fact-sized exchange (the daily agg); every window runs over the
    timeline-sized per-type frame. At 100 TB the candidate scan stays
    O(days) per key — this is the CUSUM-family changepoint scan without
    a sequential recurrence, so it needs no driver loop at any scale."""
    from windflow_spark.operators.timeutil import event_micros

    ev = _t(spark, sf_dir, "events")
    d = (
        ev.withColumn(
            "day",
            F.floor(event_micros(ev, "ts") / F.lit(US_DAY)).cast("long"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("long")
            .alias("vc")
        )
    )
    wt = W.partitionBy("event_type")
    wo = wt.orderBy("day")
    w = d.select(
        "event_type",
        "day",
        F.sum("vc").over(wo).alias("ps"),
        F.row_number().over(wo).cast("long").alias("k"),
        F.sum("vc").over(wt).alias("tot"),
        F.count(F.lit(1)).over(wt).cast("long").alias("n"),
    ).filter(F.col("k") < F.col("n"))
    mean_before = F.col("ps") / (F.lit(100.0) * F.col("k"))
    mean_after = (F.col("tot") - F.col("ps")) / (
        F.lit(100.0) * (F.col("n") - F.col("k"))
    )
    st = w.select(
        "event_type",
        "day",
        mean_before.alias("mean_before"),
        mean_after.alias("mean_after"),
        (
            F.sqrt(
                F.col("k") * (F.col("n") - F.col("k"))
                / F.col("n").cast("double")
            )
            * F.abs(mean_before - mean_after)
        ).alias("stat"),
    )
    wr = W.partitionBy("event_type").orderBy(F.col("stat").desc(), "day")
    return (
        st.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.timestamp_micros(F.col("day") * F.lit(US_DAY)).alias(
                "change_day"
            ),
            F.col("stat").alias("shift_stat"),
            "mean_before",
            "mean_after",
        )
    )


@register(
    "revenue_gini_segments",
    """
    WITH r AS (SELECT o_custkey AS ck,
                      CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                           AS BIGINT) AS rev_c
               FROM orders GROUP BY 1),
    j AS (SELECT c.c_mktsegment AS segment, r.rev_c, r.ck
          FROM r JOIN customer c ON r.ck = c.c_custkey),
    w AS (SELECT segment, rev_c,
                 CAST(row_number() OVER (PARTITION BY segment
                        ORDER BY rev_c, ck) AS BIGINT) AS i
          FROM j)
    SELECT segment, CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(rev_c) AS DOUBLE) / 100.0 AS total_revenue,
           CAST(2 * sum(i * rev_c) - (count(*) + 1) * sum(rev_c) AS DOUBLE)
             / (CAST(count(*) AS DOUBLE) * CAST(sum(rev_c) AS DOUBLE))
             AS gini
    FROM w GROUP BY 1
    """,
)
def revenue_gini_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration per market segment: the exact Gini
    coefficient G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over
    customers ranked ascending by revenue (custkey tie-break). Revenue is
    carried as exact cents so the rank weights and both Gini sums are
    BIGINTs — ONE double division at the end, bit-identical across
    engines and shuffle widths with no rounding at all (the BIGINT
    numerator is safe to ~sf10; beyond that promote to DECIMAL(38)).
    Shape: per-customer agg + one co-partitioned customer join + one
    per-segment rank window + one per-segment agg — all keyed on ck or
    segment, nothing fact-sized crosses twice."""
    r = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("ck"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("rev_c")
        )
    )
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"), F.col("c_mktsegment").alias("segment")
    )
    j = r.join(c, "ck")
    w = j.select(
        "segment",
        "rev_c",
        F.row_number()
        .over(W.partitionBy("segment").orderBy("rev_c", "ck"))
        .cast("long")
        .alias("i"),
    )
    return w.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        (F.sum("rev_c").cast("double") / F.lit(100.0)).alias("total_revenue"),
        (
            (
                F.lit(2) * F.sum(F.col("i") * F.col("rev_c"))
                - (F.count(F.lit(1)) + F.lit(1)) * F.sum("rev_c")
            ).cast("double")
            / (
                F.count(F.lit(1)).cast("double")
                * F.sum("rev_c").cast("double")
            )
        ).alias("gini"),
    )


@register(
    "bm25_top_docs",
    """
    WITH tok AS (SELECT doc_id, tok
                 FROM documents,
                      unnest(list_filter(string_split(text, ' '),
                                         x -> x <> '')) AS u(tok)),
    tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
           FROM tok GROUP BY 1, 2),
    dl AS (SELECT doc_id, tok, tf,
                  CAST(sum(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS dl
           FROM tf),
    dft AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    q AS (SELECT tok, df FROM dft ORDER BY df DESC, tok LIMIT 3),
    st AS (SELECT CAST(sum(tf) AS BIGINT) AS tot FROM tf),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    sc AS (SELECT d.doc_id, d.tok,
                  ln(CAST(1.0 AS DOUBLE)
                     + (CAST((SELECT n FROM nn) AS DOUBLE) - q.df
                        + CAST(0.5 AS DOUBLE))
                       / (q.df + CAST(0.5 AS DOUBLE)))
                  * (d.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
                     / (d.tf + CAST(1.2 AS DOUBLE)
                        * ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE))
                           + CAST(0.75 AS DOUBLE) * d.dl
                             / ((SELECT tot FROM st)
                                / CAST((SELECT n FROM nn) AS DOUBLE)))))
                  AS contrib
           FROM dl d JOIN q ON d.tok = q.tok),
    ag AS (SELECT doc_id, sum(contrib ORDER BY tok) AS score_raw
           FROM sc GROUP BY doc_id),
    top AS (SELECT doc_id, round(score_raw, 6) AS bm25
            FROM ag ORDER BY score_raw DESC, doc_id LIMIT 20)
    SELECT doc_id, bm25,
           CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
             AS rk
    FROM top
    """,
)
def bm25_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 documents for the corpus's 3 highest-df query terms —
    the retrieval-ranking sibling of tfidf_top_terms. See
    functions/pipeline.bm25_top_docs for the token-ordered float fold
    and scalar-attach scale notes."""
    from windflow_spark.functions.pipeline import bm25_top_docs as _bm25

    return _bm25(_t(spark, sf_dir, "documents"))


@register(
    "snapshot_diff_events",
    """
    WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tu,
                      epoch_us(ts) // 2592000000000 AS day, value, event_id
               FROM events),
    cut AS (SELECT (min(tu) + max(tu)) // 2 AS c FROM e),
    b AS (SELECT user_id, event_type, day, value FROM (
            SELECT *, row_number() OVER (
                        PARTITION BY user_id, event_type, day
                        ORDER BY tu DESC, event_id DESC) AS rn
            FROM e) WHERE rn = 1),
    a AS (SELECT user_id, event_type, day, value FROM (
            SELECT *, row_number() OVER (
                        PARTITION BY user_id, event_type, day
                        ORDER BY tu DESC, event_id DESC) AS rn
            FROM e WHERE tu <= (SELECT c FROM cut)) WHERE rn = 1),
    cl AS (SELECT b.event_type,
                  CASE WHEN a.user_id IS NULL THEN 'added'
                       WHEN b.value <> a.value THEN 'changed'
                       ELSE 'unchanged' END AS change_kind
           FROM b LEFT JOIN a ON b.user_id = a.user_id
                             AND b.event_type = a.event_type
                             AND b.day = a.day)
    SELECT event_type, change_kind, CAST(count(*) AS BIGINT) AS n_keys
    FROM cl GROUP BY 1, 2
    """,
)
def snapshot_diff_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: diff the latest-value-per-(user, type)
    state at the corpus midpoint vs at the end, classifying every current
    key as added / changed / unchanged — the table-diff audit that
    validates a CDC pipeline (cdc_upsert_latest builds the state; this
    op verifies two builds against each other). Both as-of states come
    from the SAME (user, type) window partitioning (one keyed exchange,
    reused by the left join); the midpoint cut is (min+max)//2 on exact
    epoch-µs BIGINTs. At 100 TB: state size is keys, not events, and the
    diff join is co-partitioned on the state key."""
    from windflow_spark.operators.timeutil import event_micros

    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_type",
        event_micros(ev, "ts").alias("tu"),
        F.floor(event_micros(ev, "ts") / F.lit(30 * US_DAY))
        .cast("long")
        .alias("day"),
        "value",
        "event_id",
    )
    # r12 (guide §5): the midpoint cut stays IN-PLAN as a broadcast
    # one-row aggregate instead of a driver collect — one fewer eager
    # job, same exact BIGINT midpoint semantics
    cutf = e.agg(F.expr("(min(tu) + max(tu)) div 2").alias("_cut"))
    wk = W.partitionBy("user_id", "event_type", "day").orderBy(
        F.col("tu").desc(), F.col("event_id").desc()
    )
    b = (
        e.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "day", "value")
    )
    a = (
        e.crossJoin(F.broadcast(cutf))
        .filter(F.col("tu") <= F.col("_cut"))
        .drop("_cut")
        .withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") == 1)
        .select(
            F.col("user_id").alias("a_uid"),
            F.col("event_type").alias("a_et"),
            F.col("day").alias("a_day"),
            F.col("value").alias("a_value"),
        )
    )
    cl = b.join(
        a,
        (F.col("user_id") == F.col("a_uid"))
        & (F.col("event_type") == F.col("a_et"))
        & (F.col("day") == F.col("a_day")),
        "left",
    ).select(
        "event_type",
        F.when(F.col("a_uid").isNull(), F.lit("added"))
        .when(F.col("value") != F.col("a_value"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("change_kind"),
    )
    return cl.groupBy("event_type", "change_kind").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys")
    )


@register(
    "event_path_trigrams",
    """
    WITH t AS (SELECT user_id, event_type AS e1,
                      lead(event_type, 1) OVER (PARTITION BY user_id
                        ORDER BY epoch_us(ts), event_id) AS e2,
                      lead(event_type, 2) OVER (PARTITION BY user_id
                        ORDER BY epoch_us(ts), event_id) AS e3
               FROM events),
    g AS (SELECT e1 || '>' || e2 || '>' || e3 AS path,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM t WHERE e3 IS NOT NULL GROUP BY 1)
    SELECT path, cnt,
           CAST(row_number() OVER (ORDER BY cnt DESC, path) AS BIGINT) AS rk
    FROM g ORDER BY cnt DESC, path LIMIT 20
    """,
)
def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 three-step behavioral paths (event-type trigrams per user
    timeline, ts+event_id deterministic ordering) — the sequence-mining
    step beyond markov_event_transitions' single-step matrix. One
    user-keyed window exchange (both leads share it) + one path agg; the
    global top-20 is a TakeOrdered. Trigram cardinality is bounded by
    |event_type|^3, so the agg frame is tiny at any corpus size."""
    from windflow_spark.operators.timeutil import event_micros

    ev = _t(spark, sf_dir, "events")
    wk = W.partitionBy("user_id").orderBy(
        event_micros(ev, "ts"), F.col("event_id")
    )
    t = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(wk).alias("e2"),
        F.lead("event_type", 2).over(wk).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    g = (
        t.select(
            F.concat_ws(">", "e1", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    top = g.orderBy(F.col("cnt").desc(), "path").limit(20)
    return top.select(
        "path",
        "cnt",
        F.row_number()
        .over(W.orderBy(F.col("cnt").desc(), "path"))
        .cast("long")
        .alias("rk"),
    )


@register(
    "sample_weighted_aes",
    """
    WITH d AS (SELECT lang, doc_id, n_chars,
                      CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 15))
                           ::UBIGINT AS DOUBLE)
                        / 1152921504606846976.0 AS u
               FROM documents),
    k AS (SELECT lang, doc_id, n_chars,
                 -ln(u) / n_chars AS arrival
          FROM d),
    r AS (SELECT lang, doc_id, n_chars,
                 CAST(row_number() OVER (PARTITION BY lang
                        ORDER BY arrival, doc_id) AS BIGINT) AS rk
          FROM k)
    SELECT lang, doc_id, n_chars, rk FROM r WHERE rk <= 5
    """,
)
def sample_weighted_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis,
    exponential-arrival form): per language, the 5 documents with the
    smallest -ln(u)/w where u is a CONTENT-ADDRESSED md5 uniform and the
    weight w is document length — longer docs proportionally likelier,
    yet fully deterministic and re-shard-stable (the same doc wins under
    any partitioning or engine; no RAND()). This is the importance-
    sampling primitive for quality-weighted training mixes: one window
    per stratum, no global pass, merge-safe at any scale because the
    arrival key is computed row-local."""
    from windflow_spark.functions.pipeline import _md5_int60

    d = _t(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        "n_chars",
        (
            _md5_int60(F.col("doc_id").cast("string")).cast("double")
            / F.lit(1152921504606846976.0)
        ).alias("u"),
    )
    k = d.select(
        "lang",
        "doc_id",
        "n_chars",
        (-F.log("u") / F.col("n_chars")).alias("arrival"),
    )
    return (
        k.withColumn(
            "rk",
            F.row_number()
            .over(W.partitionBy("lang").orderBy("arrival", "doc_id"))
            .cast("long"),
        )
        .filter(F.col("rk") <= 5)
        .select("lang", "doc_id", "n_chars", "rk")
    )


@register(
    "inverted_postings_topdf",
    """
    WITH tok AS (SELECT doc_id, tok
                 FROM documents,
                      unnest(list_filter(string_split(text, ' '),
                                         x -> x <> '')) AS u(tok)),
    tf AS (SELECT tok, doc_id FROM tok GROUP BY 1, 2),
    dft AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    top AS (SELECT tok, df FROM dft ORDER BY df DESC, tok LIMIT 20)
    SELECT t.tok AS token, t.df,
           array_to_string(
             list_slice(list(f.doc_id ORDER BY f.doc_id), 1, 10), ',')
             AS postings_head
    FROM top t JOIN tf f ON t.tok = f.tok
    GROUP BY t.tok, t.df
    """,
)
def inverted_postings_topdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (the retrieval-infra sibling of
    bm25_top_docs): per high-df token, the sorted head of its posting
    list serialized as a string. The full index is (token → sorted doc
    ids); only the top-20-df slice is emitted so the result is bounded.
    One (tok, doc) distinct + one vocab-sized df agg; the 20-row term
    frame broadcasts into the postings join — the corpus shuffles once
    on token, postings sort per token, no global sort. At 100 TB
    posting lists are written sharded per token range; the head-slice
    shape here is the per-shard unit of that job."""
    docs = _t(spark, sf_dir, "documents")
    from windflow_spark.functions.text import tokens

    tf = (
        docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .distinct()
    )
    dft = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    top = dft.orderBy(F.col("df").desc(), "tok").limit(20)
    return (
        tf.join(F.broadcast(top), "tok")
        .groupBy(F.col("tok").alias("token"), "df")
        .agg(
            F.array_join(
                F.slice(F.array_sort(F.collect_list("doc_id")), 1, 10), ","
            ).alias("postings_head")
        )
    )


@register(
    "approx_overlap_event_users",
    """
    WITH s AS (SELECT DISTINCT event_type AS t, user_id AS u FROM events),
    p AS (SELECT a.t AS type_a, b.t AS type_b,
                 CAST(count(*) AS BIGINT) AS exact_overlap
          FROM s a JOIN s b ON a.u = b.u AND a.t < b.t
          GROUP BY 1, 2)
    SELECT type_a, type_b, exact_overlap, TRUE AS hll_within_10pct
    FROM p
    """,
)
def approx_overlap_event_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation: |users(A) ∩ users(B)| for every
    event-type pair, exactly AND via HyperLogLog inclusion-exclusion
    (|A| + |B| - |A∪B|) from MERGEABLE per-type sketches
    (hll_sketch_agg / hll_union). The sketch path is the 100 TB design:
    per-type sketches are fixed-size, built in one pass, and every
    pairwise overlap comes from sketch algebra on a |types|²-row frame —
    no per-pair corpus scans, no user-keyed self-join. The exact
    self-join here exists to pin the sketch inside its error bound
    (boolean column, the approx_distinct_users idiom); at scale you ship
    only the sketch path."""
    ev = _t(spark, sf_dir, "events")
    s = ev.select(F.col("event_type").alias("t"), F.col("user_id").alias("u")).distinct()
    exact = (
        s.alias("a")
        .join(s.alias("b"), F.col("a.u") == F.col("b.u"))
        .filter(F.col("a.t") < F.col("b.t"))
        .groupBy(
            F.col("a.t").alias("type_a"), F.col("b.t").alias("type_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("exact_overlap"))
    )
    sk = s.groupBy("t").agg(F.hll_sketch_agg("u").alias("sk"))
    est = (
        sk.alias("x")
        .join(sk.alias("y"), F.col("x.t") < F.col("y.t"))
        .select(
            F.col("x.t").alias("type_a"),
            F.col("y.t").alias("type_b"),
            (
                F.hll_sketch_estimate("x.sk")
                + F.hll_sketch_estimate("y.sk")
                - F.hll_sketch_estimate(F.hll_union("x.sk", "y.sk"))
            ).alias("approx_overlap"),
        )
    )
    return exact.join(est, ["type_a", "type_b"]).select(
        "type_a",
        "type_b",
        "exact_overlap",
        (
            F.abs(F.col("approx_overlap") - F.col("exact_overlap"))
            <= F.greatest(
                F.col("exact_overlap") * F.lit(0.10), F.lit(10.0)
            )
        ).alias("hll_within_10pct"),
    )


def _recsys_holdout(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Temporal holdout shared by the four recsys evaluations
    (`recsys_hitrate_at3`, `recsys_ndcg_at3`, `recsys_mrr_at5`,
    `recsys_map_at3`). Orders are split at the exact midpoint order-date
    (epoch-µs BIGINT midpoint, no sampling).

    Returns ``(base, b)``: ``base`` = persisted (ck, pk, od, _train) rows
    of the single lineitem⋈orders join, hash(ck)-partitioned; ``b`` = the
    persisted train baskets, capped at each customer's 10 most recent
    items. The callers take the test half as ``base.filter(~_train)``."""
    from windflow_spark.operators.recsys import cap_recent
    from windflow_spark.operators.timeutil import event_micros

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    ou = o.withColumn("_ou", event_micros(o, "o_orderdate"))
    # the midpoint cut stays IN-PLAN as a broadcast one-row aggregate
    # instead of a driver collect — one fewer eager job per eval query,
    # and the same exact BIGINT midpoint semantics
    cutf = ou.agg(F.expr("(min(_ou) + max(_ou)) div 2").alias("_cut"))
    ob = ou.crossJoin(F.broadcast(cutf))
    # ONE lineitem⋈orders join + ONE hash(ck) exchange serves BOTH holdout
    # halves — scanning and joining lineitem once per half doubled that
    # work. The train cap (groupBy(ck,pk) + ck-window) and the test
    # distinct both cluster by supersets of ck, so neither adds an
    # exchange over the persisted base.
    base = (
        li.join(ob, li.l_orderkey == ob.o_orderkey)
        .select(
            F.col("o_custkey").alias("ck"),
            F.col("l_partkey").alias("pk"),
            F.col("o_orderdate").alias("od"),
            (F.col("_ou") <= F.col("_cut")).alias("_train"),
        )
        .repartition(spark.sparkContext.defaultParallelism, "ck")
        .persist()
    )
    b = cap_recent(base.filter(F.col("_train")), basket_cap=10).persist()
    return base, b


def _recsys_ranked(b: DataFrame, sf_dir: str, k: int) -> DataFrame:
    """Top-k recommendations (ck, pk, pos) per customer of the train
    baskets ``b`` (from `_recsys_holdout`), shared by `recsys_ndcg_at3`,
    `recsys_mrr_at5` and `recsys_map_at3`. Candidates are the union of the
    cosine top-3 neighbor lists (`itemitem_topk`, min co-occurrence 2) of
    the basket's items, minus the basket's own items. The score is the
    cosine sum SCALED TO 1e-6-integer BIGINTs — float association in a
    sum of 6dp-rounded cosines could flip near-ties across engines,
    integers cannot — ranked by (score desc, pk) with row_number."""
    from windflow_spark.operators.recsys import itemitem_topk

    model = itemitem_topk(
        b, min_cooc=2, topk=3, item_est_bytes=_catalog_est(sf_dir, 1, 16)
    ).select("item_a", "item_b", "cosine_sim")
    cand = (
        b.join(
            maybe_broadcast(model, _catalog_est(sf_dir, 3, 32)),
            b.pk == model.item_a,
        )
        .join(
            b.select(F.col("ck").alias("ck2"), F.col("pk").alias("pk2")),
            (F.col("ck") == F.col("ck2")) & (F.col("item_b") == F.col("pk2")),
            "left_anti",
        )
        .groupBy("ck", F.col("item_b").alias("cpk"))
        .agg(
            F.sum(F.round(F.col("cosine_sim") * 1_000_000).cast("long"))
            .cast("long")
            .alias("score")
        )
    )
    wtop = W.partitionBy("ck").orderBy(F.col("score").desc(), F.col("cpk"))
    return (
        cand.withColumn("pos", F.row_number().over(wtop))
        .filter(F.col("pos") <= k)
        .select("ck", F.col("cpk").alias("pk"), "pos")
    )


@register(
    "recsys_hitrate_at3",
    """
    WITH cut AS (SELECT (min(epoch_us(o_orderdate))
                         + max(epoch_us(o_orderdate))) // 2 AS c
                 FROM orders),
    tro AS (SELECT * FROM orders
            WHERE epoch_us(o_orderdate) <= (SELECT c FROM cut)),
    teo AS (SELECT * FROM orders
            WHERE epoch_us(o_orderdate) > (SELECT c FROM cut)),
    b0 AS (SELECT o.o_custkey AS ck, l.l_partkey AS pk,
                  max(o.o_orderdate) AS md
           FROM lineitem l JOIN tro o ON l.l_orderkey = o.o_orderkey
           GROUP BY 1, 2),
    b AS (SELECT ck, pk FROM (
            SELECT ck, pk, row_number() OVER (PARTITION BY ck
                     ORDER BY md DESC, pk) AS rn
            FROM b0) WHERE rn <= 10),
    cnt AS (SELECT pk, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY pk),
    pr AS (SELECT a.pk AS pa, b2.pk AS pb, CAST(count(*) AS BIGINT) AS cooc
           FROM b a JOIN b b2 ON a.ck = b2.ck AND a.pk < b2.pk
           GROUP BY 1, 2
           HAVING count(*) >= 2),
    sym AS (SELECT pa AS item_a, pb AS item_b, cooc FROM pr
            UNION ALL
            SELECT pb, pa, cooc FROM pr),
    sc AS (SELECT s.item_a, s.item_b,
                  round(s.cooc / sqrt(ca.n * cb.n), 6) AS cosine_sim
           FROM sym s JOIN cnt ca ON s.item_a = ca.pk
                      JOIN cnt cb ON s.item_b = cb.pk),
    model AS (SELECT item_a, item_b FROM (
                SELECT *, row_number() OVER (PARTITION BY item_a
                          ORDER BY cosine_sim DESC, item_b) AS rk
                FROM sc) WHERE rk <= 3),
    preds AS (SELECT DISTINCT b.ck, m.item_b AS pk
              FROM b JOIN model m ON b.pk = m.item_a),
    test AS (SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
             FROM lineitem l JOIN teo o ON l.l_orderkey = o.o_orderkey),
    eval_u AS (SELECT DISTINCT t.ck FROM test t
               WHERE t.ck IN (SELECT ck FROM b)),
    hit_u AS (SELECT DISTINCT t.ck FROM test t
              JOIN preds p ON t.ck = p.ck AND t.pk = p.pk)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM eval_u) AS n_eval_users,
           (SELECT CAST(count(*) AS BIGINT) FROM hit_u) AS n_hit_users,
           (SELECT count(*) FROM hit_u)
             / CAST((SELECT count(*) FROM eval_u) AS DOUBLE) AS hit_rate,
           (SELECT CAST(count(DISTINCT item_b) AS BIGINT) FROM model)
             AS n_distinct_recommended
    """,
)
def recsys_hitrate_at3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-holdout evaluation of the item-item recommender — the
    measured-quality artifact for the recsys family, exactly as
    sim_*_recall measures the ANN family. The holdout is
    `_recsys_holdout` (exact midpoint order-date cut); the itemitem model
    trains on the PAST half only; a held-out user scores a hit when any
    future purchase appears among the top-3 neighbors of their train
    basket. Output: eval/hit user counts, hit rate (one BIGINT division —
    bit-identical), and distinct recommended items (catalog coverage).
    Same capped-basket scale shape as the model itself; evaluation adds
    only co-partitioned (ck, pk) joins."""
    from windflow_spark.operators.recsys import itemitem_topk

    base, b = _recsys_holdout(spark, sf_dir)
    model = (
        itemitem_topk(
        b, min_cooc=2, topk=3, item_est_bytes=_catalog_est(sf_dir, 1, 16)
    )
        .select("item_a", "item_b")
        .persist()
    )
    preds = (
        b.join(
            maybe_broadcast(model, _catalog_est(sf_dir, 3, 32)),
            b.pk == model.item_a,
        )
        .select("ck", F.col("item_b").alias("ppk"))
        .distinct()
    )
    test = base.filter(~F.col("_train")).select("ck", "pk").distinct()
    eval_u = test.join(b.select("ck").distinct(), "ck", "left_semi").select(
        "ck"
    ).distinct()
    hit_u = (
        test.join(
            preds,
            (test.ck == preds.ck) & (test.pk == preds.ppk),
            "left_semi",
        )
        .select("ck")
        .distinct()
    )
    s_e = eval_u.agg(F.count(F.lit(1)).cast("long").alias("n_eval_users"))
    s_h = hit_u.agg(F.count(F.lit(1)).cast("long").alias("n_hit_users"))
    s_m = model.agg(
        F.count_distinct("item_b").cast("long").alias("n_distinct_recommended")
    )
    return (
        s_e.crossJoin(s_h)
        .crossJoin(s_m)
        .select(
            "n_eval_users",
            "n_hit_users",
            (
                F.col("n_hit_users")
                / F.col("n_eval_users").cast("double")
            ).alias("hit_rate"),
            "n_distinct_recommended",
        )
    )


@register(
    "ts_holt_linear",
    f"""
    WITH RECURSIVE c AS (
      SELECT event_type,
             CAST(epoch_us(ts) // {US_DAY} AS BIGINT) AS bidx,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    r AS (SELECT event_type, bidx, cnt,
                 CAST(row_number() OVER (PARTITION BY event_type
                                         ORDER BY bidx) AS BIGINT) AS rn
          FROM c),
    h AS (
      SELECT event_type, bidx, cnt, rn,
             CAST(cnt AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS t
      FROM r WHERE rn = 1
      UNION ALL
      SELECT r.event_type, r.bidx, r.cnt, r.rn,
             CAST(0.5 AS DOUBLE) * r.cnt + CAST(0.5 AS DOUBLE) * (h.l + h.t),
             CAST(0.25 AS DOUBLE)
               * ((CAST(0.5 AS DOUBLE) * r.cnt
                   + CAST(0.5 AS DOUBLE) * (h.l + h.t)) - h.l)
               + CAST(0.75 AS DOUBLE) * h.t
      FROM r JOIN h ON r.event_type = h.event_type AND r.rn = h.rn + 1)
    SELECT event_type, make_timestamp(bidx * {US_DAY}) AS bucket_start, cnt,
           round(l, 6) AS level, round(t, 6) AS trend,
           round(l + t, 6) AS forecast_next
    FROM h
    """,
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend, alpha=0.5,
    beta=0.25 — dyadic, exact doubles on both engines) of daily event
    counts per type, with the one-step-ahead forecast column. The
    recurrence folds JVM-side over each key's sorted bucket series
    (operators/timeseries.holt_smooth); the oracle is the equivalent
    recursive CTE running the identical left-to-right float sequence."""
    from windflow_spark.operators.timeseries import holt_smooth

    return holt_smooth(
        _t(spark, sf_dir, "events"),
        ["event_type"],
        "ts",
        alpha=0.5,
        beta=0.25,
        bucket_us=US_DAY,
    )


@register(
    "cms_heavy_tokens",
    """
    WITH tc AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        FROM documents) GROUP BY tok),
    hx AS (
      SELECT tok, cnt, r,
             CAST(('0x' || substr(md5(r::VARCHAR || '|' || tok), 1, 8))::UBIGINT
                  % 1024 AS BIGINT) AS idx
      FROM tc CROSS JOIN range(3) t(r)),
    sk AS (SELECT r, idx, SUM(cnt) AS counter FROM hx GROUP BY r, idx),
    cand AS (SELECT tok, cnt FROM tc ORDER BY cnt DESC, tok ASC LIMIT 20),
    est AS (
      SELECT c.tok, min(c.cnt) AS true_cnt,
             CAST(min(s.counter) AS BIGINT) AS cms_est
      FROM cand c
      JOIN hx h ON h.tok = c.tok
      JOIN sk s ON s.r = h.r AND s.idx = h.idx
      GROUP BY c.tok)
    SELECT tok, true_cnt, cms_est,
           CAST(cms_est - true_cnt AS BIGINT) AS overestimate
    FROM est
    """,
)
def cms_heavy_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch (depth 3 x width 1024, md5 row hashes) over the
    corpus token stream: CMS estimate vs true count for the top-20
    tokens, with the one-sided overestimate as the audit column. The
    sketch is built from the REDUCED token-count frame and is a
    commutative integer sum — bit-identical under any partitioning and
    engine, so the oracle recomputes the full sketch in SQL."""
    from windflow_spark.functions.pipeline import cms_token_estimates

    return cms_token_estimates(
        _t_wide(spark, sf_dir, "documents"), depth=3, width=1024, top_n=20
    )


@register(
    "split_group_holdout",
    """
    WITH cs AS (
      SELECT c_custkey,
             CASE WHEN ('0x' || substr(md5(c_custkey::VARCHAR), 1, 8))::UBIGINT
                       % 5 < 4
                  THEN 'train' ELSE 'holdout' END AS split
      FROM customer),
    cn AS (SELECT split, CAST(count(*) AS BIGINT) AS n_customers
           FROM cs GROUP BY split),
    os AS (SELECT cs.split, CAST(count(*) AS BIGINT) AS n_orders,
                  round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2)::DOUBLE
                    AS sum_price
           FROM orders o JOIN cs ON o.o_custkey = cs.c_custkey
           GROUP BY cs.split)
    SELECT cn.split, n_customers, n_orders, sum_price
    FROM cn JOIN os USING (split)
    """,
)
def split_group_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-integrity (leakage-safe) train/holdout split: the md5 hash
    bucket is taken on the CUSTOMER key, and every order inherits its
    customer's split — no entity ever spans splits, the property that
    per-row random splits violate and that leaks future behavior of a
    training-set user into evaluation. 80/20 by exact integer bucket,
    reproducible on any engine/partitioning. Output: per-split customer
    count, order count, and exact decimal-summed revenue."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    bucket = (
        F.conv(F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 8), 16, 10)
        .cast("long") % 5
    )
    cs = c.select(
        "c_custkey",
        F.when(bucket < 4, "train").otherwise("holdout").alias("split"),
    )
    cn = cs.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )
    os_ = (
        o.join(cs, o.o_custkey == cs.c_custkey)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            _dsum(F.col("o_totalprice")).alias("sum_price"),
        )
    )
    return cn.join(os_, "split").select(
        "split", "n_customers", "n_orders", "sum_price"
    )


@register(
    "split_temporal_embargo",
    f"""
    WITH b AS (
      SELECT user_id, CAST(epoch_us(ts) // {US_DAY} AS BIGINT) AS bidx
      FROM events),
    mx AS (SELECT max(bidx) AS maxb FROM b),
    s AS (SELECT user_id, bidx,
                 CASE WHEN bidx <= maxb - 9 THEN 'train'
                      WHEN bidx > maxb - 7 THEN 'test' END AS split
          FROM b CROSS JOIN mx)
    SELECT split, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           make_timestamp(min(bidx) * {US_DAY}) AS first_bucket,
           make_timestamp(max(bidx) * {US_DAY}) AS last_bucket
    FROM s WHERE split IS NOT NULL GROUP BY split
    """,
)
def split_temporal_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe temporal split with an embargo gap: train = all events
    up to T-9 days (T = corpus max day), test = the final 7 days, and
    the 2-day embargo window between them is DROPPED — the standard
    guard against look-ahead leakage through windowed/rolling features
    that straddle the boundary (a train row's 2-day feature window can
    never touch a test row). The cutoff derives from the data's max
    bucket (one-row broadcast scalar, no collect); per-split event/user
    counts and bucket span are the auditable artifact."""
    from windflow_spark.operators.timeutil import event_micros

    e = _t(spark, sf_dir, "events")
    b = e.select(
        "user_id",
        F.floor(event_micros(e, "ts") / F.lit(US_DAY)).cast("long").alias("bidx"),
    )
    mx = b.agg(F.max("bidx").alias("maxb"))
    s = b.crossJoin(F.broadcast(mx)).select(
        "user_id",
        "bidx",
        F.when(F.col("bidx") <= F.col("maxb") - 9, "train")
        .when(F.col("bidx") > F.col("maxb") - 7, "test")
        .alias("split"),
    )
    return (
        s.where(F.col("split").isNotNull())
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count_distinct("user_id").cast("long").alias("n_users"),
            F.timestamp_micros(F.min("bidx") * F.lit(US_DAY)).alias("first_bucket"),
            F.timestamp_micros(F.max("bidx") * F.lit(US_DAY)).alias("last_bucket"),
        )
    )


@register(
    "sim_hard_negatives",
    """
    WITH q AS (SELECT vec_id AS query_id, label AS ql,
                      embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id, label AS cl, embedding::DOUBLE[] AS cv
          FROM embeddings),
    s AS (SELECT q.query_id, CAST(q.ql AS BIGINT) AS query_label,
                 c.vec_id, CAST(c.cl AS BIGINT) AS neg_label,
                 round(list_cosine_similarity(qv, cv), 6) AS cos_sim
          FROM c JOIN q ON c.vec_id <> q.query_id AND c.cl <> q.ql),
    r AS (SELECT query_id, query_label, vec_id, neg_label, cos_sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, vec_id) AS rk
          FROM s)
    SELECT query_id, query_label, vec_id, neg_label, cos_sim,
           CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 3
    """,
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: per query vector, the top-3 most-similar
    corpus vectors with a DIFFERENT label — the contrastive-training
    negatives that carry the most gradient signal. Brute-force contract
    on the bounded query side (sim_topk_bruteforce's plan); the label
    filter composes with the IVF/LSH candidate paths at corpus scale."""
    from windflow_spark.functions.similarity import hard_negative_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    return hard_negative_topk(emb, queries_df, k=3)


@register(
    "cluster_label_purity",
    f"""
    WITH {_KMEANS_TRAIN_CTES},
    {_km_assign_cte("af", "c2")},
    al AS (SELECT af.vec_id, af.bkt, emb.label
           FROM af JOIN embeddings emb USING (vec_id)),
    lc AS (SELECT bkt, label, CAST(count(*) AS BIGINT) AS n
           FROM al GROUP BY bkt, label),
    mj AS (SELECT bkt, CAST(label AS BIGINT) AS majority_label,
                  n AS n_majority,
                  row_number() OVER (PARTITION BY bkt
                                     ORDER BY n DESC, label) AS mrk
           FROM lc),
    tot AS (SELECT bkt, CAST(sum(n) AS BIGINT) AS n_members,
                   CAST(count(*) AS BIGINT) AS n_labels
            FROM lc GROUP BY bkt)
    SELECT t.bkt AS cluster_id, t.n_members, t.n_labels,
           m.majority_label, m.n_majority,
           round(CAST(m.n_majority AS DOUBLE) / t.n_members, 6) AS purity
    FROM tot t JOIN mj m ON m.bkt = t.bkt AND m.mrk = 1
    """,
)
def cluster_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-vs-label alignment audit over the trained k-means codebook:
    per learned cluster, the member count, number of distinct labels, the
    majority label (count-desc, label-asc tie-break), and purity =
    majority share — the unsupervised-clustering quality readout when a
    ground-truth label exists. Reuses the memoized train_codebook (no
    retraining); one assignment pass + two tiny label aggs."""
    from windflow_spark.functions.similarity import (
        _assign_nearest_list,
        train_codebook,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cb = train_codebook(emb, cache_key=sf_dir, n_lists=8, iters=2)
    assigned = _assign_nearest_list(emb, cb, "vec_id").join(
        emb.select("vec_id", F.col("label").cast("long").alias("label")),
        "vec_id",
    )
    lc = assigned.groupBy(F.col("_bkt").alias("cluster_id"), "label").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wm = W.partitionBy("cluster_id").orderBy(F.desc("n"), F.asc("label"))
    mj = (
        lc.withColumn("mrk", F.row_number().over(wm))
        .filter(F.col("mrk") == 1)
        .select(
            "cluster_id",
            F.col("label").alias("majority_label"),
            F.col("n").alias("n_majority"),
        )
    )
    tot = lc.groupBy("cluster_id").agg(
        F.sum("n").cast("long").alias("n_members"),
        F.count(F.lit(1)).cast("long").alias("n_labels"),
    )
    return tot.join(mj, "cluster_id").select(
        "cluster_id",
        "n_members",
        "n_labels",
        "majority_label",
        "n_majority",
        F.round(F.col("n_majority").cast("double") / F.col("n_members"), 6).alias(
            "purity"
        ),
    )


@register(
    "negative_sampling_pairs",
    """
    WITH pos AS (SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
                 FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    cu AS (SELECT DISTINCT ck FROM pos),
    mx AS (SELECT max(p_partkey) AS maxp FROM part),
    cand AS (SELECT ck,
                    CAST(('0x' || substr(md5(ck::VARCHAR || '|' || r::VARCHAR),
                          1, 8))::UBIGINT::BIGINT % maxp AS BIGINT) + 1 AS cand_pk
             FROM cu CROSS JOIN range(3) t(r) CROSS JOIN mx),
    neg AS (SELECT c.ck, c.cand_pk FROM cand c
            WHERE NOT EXISTS (SELECT 1 FROM pos p
                              WHERE p.ck = c.ck AND p.pk = c.cand_pk))
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM pos) AS n_pos_pairs,
           (SELECT CAST(count(*) AS BIGINT) FROM cu) AS n_customers,
           (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
           (SELECT CAST(count(*) AS BIGINT) FROM neg) AS n_negatives,
           (SELECT CAST(count(*) AS BIGINT) FROM cand)
             - (SELECT CAST(count(*) AS BIGINT) FROM neg) AS n_collisions
    """,
)
def negative_sampling_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for implicit-feedback training:
    3 md5-derived candidate parts per purchasing customer, drawn from the
    full part-id range (max p_partkey rides as a one-row broadcast
    scalar), with true positives removed by an anti-join on the exact
    (customer, part) pair — the standard recsys/contrastive negative
    generator, reproducible on any engine/partitioning (no RAND()).
    Output: one audit row (positives, customers, candidates, surviving
    negatives, positive-collisions removed)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    pos = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("ck"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    cu = pos.select("ck").distinct()
    mx = p.agg(F.max("p_partkey").alias("maxp"))
    cand = (
        cu.crossJoin(F.broadcast(mx))
        .select(
            "ck",
            F.explode(F.array(*[F.lit(str(r)) for r in range(3)])).alias("r"),
            "maxp",
        )
        .select(
            "ck",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("ck").cast("string"), F.lit("|"), F.col("r")
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % F.col("maxp")
                + 1
            ).alias("cand_pk"),
        )
    )
    neg = cand.join(
        pos,
        (cand.ck == pos.ck) & (cand.cand_pk == pos.pk),
        "left_anti",
    )
    s_pos = pos.agg(F.count(F.lit(1)).cast("long").alias("n_pos_pairs"))
    s_cu = cu.agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    s_cand = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    s_neg = neg.agg(F.count(F.lit(1)).cast("long").alias("n_negatives"))
    return (
        s_pos.crossJoin(s_cu)
        .crossJoin(s_cand)
        .crossJoin(s_neg)
        .select(
            "n_pos_pairs",
            "n_customers",
            "n_candidates",
            "n_negatives",
            (F.col("n_candidates") - F.col("n_negatives"))
            .cast("long")
            .alias("n_collisions"),
        )
    )


@register(
    "session_bounce_daily",
    f"""
    WITH s AS (
      SELECT user_id, epoch_us(ts) AS us, event_id,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {US_30MIN}
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    g AS (
      SELECT user_id, us,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS sid
      FROM s),
    sess AS (
      SELECT user_id, sid, min(us) AS min_us, max(us) AS max_us,
             CAST(count(*) AS BIGINT) AS cnt
      FROM g GROUP BY user_id, sid),
    d AS (
      SELECT CAST(min_us // {US_DAY} AS BIGINT) AS day_idx,
             max_us - min_us AS dur_us,
             CASE WHEN cnt = 1 THEN 1 ELSE 0 END AS bounce
      FROM sess)
    SELECT make_timestamp(day_idx * {US_DAY}) AS day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(bounce) AS BIGINT) AS n_bounces,
           round(CAST(sum(bounce) AS DOUBLE) / count(*), 6) AS bounce_rate,
           round(CAST(sum(dur_us) AS DOUBLE) / count(*) / 1000000.0, 6)
             AS avg_duration_sec
    FROM d GROUP BY day_idx
    """,
)
def session_bounce_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate and mean session duration over 30-minute-gap
    sessions — the engagement panel on every product dashboard (bounce =
    single-event session, attributed to the session's START day). Builds
    on the same two-window session assignment as win_session_30m; the
    daily report is one more tiny agg over the session frame. Duration
    math stays in exact integer micros until the final division."""
    from windflow_spark.operators.timeutil import event_micros
    from windflow_spark.operators.windows import session_window_agg

    ev = _t(spark, sf_dir, "events")
    ev_us = ev.withColumn("_us", event_micros(ev, "ts"))
    sess = session_window_agg(
        ev_us,
        key_cols=["user_id"],
        ts_col="ts",
        order_cols=["ts", "event_id"],
        gap_us=US_30MIN,
        aggs=[
            F.min("_us").alias("min_us"),
            F.max("_us").alias("max_us"),
            F.count(F.lit(1)).cast("long").alias("cnt"),
        ],
    )
    d = sess.select(
        (F.col("min_us") / F.lit(US_DAY)).cast("long").alias("day_idx"),
        (F.col("max_us") - F.col("min_us")).alias("dur_us"),
        F.when(F.col("cnt") == 1, 1).otherwise(0).alias("bounce"),
    )
    return d.groupBy("day_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("bounce").cast("long").alias("n_bounces"),
        F.round(
            F.sum("bounce").cast("double") / F.count(F.lit(1)), 6
        ).alias("bounce_rate"),
        F.round(
            F.sum("dur_us").cast("double") / F.count(F.lit(1)) / F.lit(1000000.0),
            6,
        ).alias("avg_duration_sec"),
    ).select(
        F.timestamp_micros(F.col("day_idx") * F.lit(US_DAY)).alias("day"),
        "n_sessions",
        "n_bounces",
        "bounce_rate",
        "avg_duration_sec",
    )


@register(
    "forget_cascade_audit",
    """
    WITH fc AS (
      SELECT c_custkey FROM customer
      WHERE ('0x' || substr(md5(c_custkey::VARCHAR), 1, 8))::UBIGINT % 32 = 0),
    fo AS (SELECT o_orderkey FROM orders
           WHERE o_custkey IN (SELECT c_custkey FROM fc)),
    fl AS (SELECT 1 AS x FROM lineitem
           WHERE l_orderkey IN (SELECT o_orderkey FROM fo))
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM fc) AS n_customers,
           (SELECT CAST(count(*) AS BIGINT) FROM fo) AS n_orders,
           (SELECT CAST(count(*) AS BIGINT) FROM fl) AS n_lineitems,
           round((SELECT CAST(count(*) AS DOUBLE) FROM fl)
                 / (SELECT count(*) FROM lineitem), 6) AS pct_lineitems
    """,
)
def forget_cascade_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten cascade audit: for a deterministic 1/32
    customer cohort (md5 bucket — stands in for an erasure request list),
    count every row that a GDPR delete would touch across the FK chain
    customer -> orders -> lineitem, plus the fact-table blast radius as a
    share. Two keyed semi-joins (custkey, then orderkey) — the exact
    plan a delete-propagation job runs, as an auditable dry-run."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    bucket = (
        F.conv(F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 8), 16, 10)
        .cast("long") % 32
    )
    fc = c.filter(bucket == 0).select("c_custkey")
    fo = o.join(fc, o.o_custkey == fc.c_custkey, "left_semi").select("o_orderkey")
    fl = li.join(fo, li.l_orderkey == fo.o_orderkey, "left_semi")
    s_c = fc.agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    s_o = fo.agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    s_l = fl.agg(F.count(F.lit(1)).cast("long").alias("n_lineitems"))
    s_t = li.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    return (
        s_c.crossJoin(s_o)
        .crossJoin(s_l)
        .crossJoin(s_t)
        .select(
            "n_customers",
            "n_orders",
            "n_lineitems",
            F.round(
                F.col("n_lineitems").cast("double") / F.col("n_total"), 6
            ).alias("pct_lineitems"),
        )
    )


@register(
    "dedup_incremental_delta",
    """
    WITH t AS (
      SELECT doc_id, md5(text) AS h,
             ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT % 10 < 8
               AS in_base
      FROM documents),
    base AS (SELECT DISTINCT h FROM t WHERE in_base),
    delta AS (SELECT doc_id, h FROM t WHERE NOT in_base),
    vs_base AS (SELECT d.doc_id, d.h,
                       EXISTS (SELECT 1 FROM base b WHERE b.h = d.h)
                         AS dup_base
                FROM delta d),
    fresh AS (SELECT doc_id, h FROM vs_base WHERE NOT dup_base),
    surv AS (SELECT h, min(doc_id) AS keeper FROM fresh GROUP BY h)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM delta) AS n_delta,
           (SELECT CAST(count(*) AS BIGINT) FROM vs_base WHERE dup_base)
             AS n_dup_vs_base,
           (SELECT CAST(count(*) AS BIGINT) FROM fresh)
             - (SELECT CAST(count(*) AS BIGINT) FROM surv)
             AS n_dup_within_delta,
           (SELECT CAST(count(*) AS BIGINT) FROM surv) AS n_new_unique
    """,
)
def dedup_incremental_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (delta-vs-corpus) exact dedup: a new document batch
    (deterministic 20% md5 cohort standing in for today's crawl) is
    checked against the EXISTING corpus hash set without re-deduping the
    corpus — the shape every growing-corpus ingest runs daily. Dups
    against base fall out of one hash semi-join; within-delta dups
    resolve by min-id first-arrival (streaming_exact_dedup's batch
    rule); the base side reduces to DISTINCT hashes before the join, so
    the exchange carries one row per unique base document."""
    d = _t_wide(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.md5(F.col("text")).alias("h"),
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
            ).cast("long") % 10
            < 8
        ).alias("in_base"),
    )
    base = t.filter(F.col("in_base")).select("h").distinct()
    delta = t.filter(~F.col("in_base")).select("doc_id", "h")
    dup_base = delta.join(base, "h", "left_semi")
    fresh = delta.join(base, "h", "left_anti")
    surv = fresh.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    s_d = delta.agg(F.count(F.lit(1)).cast("long").alias("n_delta"))
    s_b = dup_base.agg(F.count(F.lit(1)).cast("long").alias("n_dup_vs_base"))
    s_f = fresh.agg(F.count(F.lit(1)).cast("long").alias("n_fresh"))
    s_s = surv.agg(F.count(F.lit(1)).cast("long").alias("n_new_unique"))
    return (
        s_d.crossJoin(s_b)
        .crossJoin(s_f)
        .crossJoin(s_s)
        .select(
            "n_delta",
            "n_dup_vs_base",
            (F.col("n_fresh") - F.col("n_new_unique"))
            .cast("long")
            .alias("n_dup_within_delta"),
            "n_new_unique",
        )
    )


@register(
    "feature_hash_vectors",
    """
    WITH tk AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      FROM documents),
    hx AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('i|' || tok), 1, 8))::UBIGINT % 64
                  AS BIGINT) AS idx,
             CASE WHEN ('0x' || substr(md5('s|' || tok), 1, 8))::UBIGINT % 2 = 0
                  THEN 1 ELSE -1 END AS sgn
      FROM tk),
    cell AS (SELECT doc_id, idx, CAST(sum(sgn) AS BIGINT) AS val
             FROM hx GROUP BY doc_id, idx)
    SELECT doc_id,
           CAST(count(*) FILTER (WHERE val <> 0) AS BIGINT) AS nnz,
           CAST(sum(abs(val)) AS BIGINT) AS l1_norm,
           round(sqrt(CAST(sum(val * val) AS DOUBLE)), 6) AS l2_norm
    FROM cell GROUP BY doc_id
    """,
)
def feature_hash_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick (Weinberger et al.) bag-of-words features: every
    token maps to one of 64 signed buckets via two independent md5
    hashes (index + sign), collisions cancel in expectation — the
    fixed-width, vocabulary-free featurizer for training linear models
    on unbounded text. Reported per doc: nonzeros, L1, L2 of the hashed
    vector. Integer arithmetic end-to-end until the final sqrt; two
    keyed exchanges, both on reduced frames — no vocabulary table, no
    broadcast, the property that makes the trick work at 100 TB."""
    d = _t_wide(spark, sf_dir, "documents")
    from windflow_spark.functions.text import tokens as _toks

    tk = d.select("doc_id", F.explode(_toks("text")).alias("tok"))

    def _h(prefix: str) -> F.Column:
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(prefix), F.col("tok"))), 1, 8), 16, 10
        ).cast("long")

    hx = tk.select(
        "doc_id",
        (_h("i|") % 64).alias("idx"),
        F.when(_h("s|") % 2 == 0, 1).otherwise(-1).alias("sgn"),
    )
    cell = hx.groupBy("doc_id", "idx").agg(F.sum("sgn").cast("long").alias("val"))
    return cell.groupBy("doc_id").agg(
        F.count(F.when(F.col("val") != 0, 1)).cast("long").alias("nnz"),
        F.sum(F.abs("val")).cast("long").alias("l1_norm"),
        F.round(F.sqrt(F.sum(F.col("val") * F.col("val")).cast("double")), 6).alias(
            "l2_norm"
        ),
    )


@register(
    "vocab_oov_rate",
    """
    WITH s AS (
      SELECT source, text,
             CASE WHEN ('0x' || substr(md5(text), 1, 8))::UBIGINT % 100 < 90
                  THEN 'train' ELSE 'eval' END AS split
      FROM documents),
    trtok AS (
      SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      FROM s WHERE split = 'train'),
    voc AS (
      SELECT tok FROM (
        SELECT tok, count(*) AS cnt FROM trtok GROUP BY tok)
      ORDER BY cnt DESC, tok ASC LIMIT 1000),
    evtok AS (
      SELECT source,
             unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      FROM s WHERE split = 'eval')
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (WHERE tok NOT IN (SELECT tok FROM voc))
                AS BIGINT) AS n_oov,
           round(CAST(count(*) FILTER (WHERE tok NOT IN (SELECT tok FROM voc))
                      AS DOUBLE) / count(*), 6) AS oov_rate
    FROM evtok GROUP BY source
    """,
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage audit: build the top-1000 token
    vocabulary from the TRAIN side of the content-hash split
    (functions/text.hash_split — no leakage from eval), then measure the
    out-of-vocabulary token rate per source on the EVAL side — the
    coverage readout that decides whether a tokenizer/vocab budget fits
    a new data source. The 1000-row vocab broadcasts onto the eval
    token stream (anti-join), so the corpus-sized side never
    reshuffles on token."""
    from windflow_spark.functions.text import hash_split, tokens as _toks

    d = hash_split(_t_wide(spark, sf_dir, "documents"), "text", train_pct=90)
    trtok = d.filter(F.col("split") == "train").select(
        F.explode(_toks("text")).alias("tok")
    )
    voc = (
        trtok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(1000)
        .select("tok")
    )
    evtok = d.filter(F.col("split") == "eval").select(
        "source", F.explode(_toks("text")).alias("tok")
    )
    oov = evtok.join(F.broadcast(voc), "tok", "left_anti")
    n_all = evtok.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens")
    )
    n_oov = oov.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_oov")
    )
    return (
        n_all.join(n_oov, "source", "left")
        .select(
            "source",
            "n_tokens",
            F.coalesce(F.col("n_oov"), F.lit(0)).cast("long").alias("n_oov"),
            F.round(
                F.coalesce(F.col("n_oov"), F.lit(0)).cast("double")
                / F.col("n_tokens"),
                6,
            ).alias("oov_rate"),
        )
    )


@register(
    "entity_resolution_suppliers",
    """
    WITH RECURSIVE p AS (
      SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b
      FROM supplier a JOIN supplier b
        ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
      WHERE levenshtein(a.s_name, b.s_name) <= 2),
    und AS (SELECT id_a AS src, id_b AS dst FROM p
            UNION SELECT id_b, id_a FROM p),
    reach AS (
      SELECT DISTINCT src, src AS dst FROM und
      UNION
      SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src),
    comp AS (SELECT src AS id, min(dst) AS component FROM reach GROUP BY src)
    SELECT CAST(c.component AS BIGINT) AS entity_id,
           CAST(count(*) AS BIGINT) AS n_members,
           s.s_name AS canonical_name
    FROM comp c JOIN supplier s ON s.s_suppkey = c.component
    GROUP BY c.component, s.s_name
    """,
)
def entity_resolution_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: blocked edit-distance matching
    (fuzzy_pairs_blocked, nation block, levenshtein <= 2) feeds the same
    Pregel min-label connected-components operator that clusters near-dup
    documents — transitive closure turns pairwise matches into entities
    (A~B, B~C => one entity even when A,C differ by 4 edits). Reported
    per entity: member count + the canonical (min-id) record's name.
    Scale shape inherits from both parts: block-key equi-join for edges,
    distributed label propagation with one scalar per round."""
    from windflow_spark.functions.dedup import (
        connected_components,
        fuzzy_pairs_blocked,
    )

    s = _t(spark, sf_dir, "supplier")
    edges = fuzzy_pairs_blocked(s, "s_suppkey", "s_name", ["s_nationkey"], max_dist=2)
    comp = connected_components(edges)
    canon = s.select(
        F.col("s_suppkey").alias("component"), F.col("s_name").alias("canonical_name")
    )
    return (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
        .join(canon, "component")
        .select(
            F.col("component").cast("long").alias("entity_id"),
            "n_members",
            "canonical_name",
        )
    )


@register(
    "sample_k_per_group",
    """
    WITH r AS (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(doc_id::VARCHAR || '|samp'), doc_id) AS rk
      FROM documents)
    SELECT source, doc_id, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 5
    """,
)
def sample_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform sample per stratum: exactly 5 documents per
    source, chosen by md5 rank — the deterministic, engine-portable
    counterpart of rate-based stratified_sample_hash (which cannot
    guarantee a per-stratum count) and of weighted A-ES (which needs
    weights). One rank window per stratum; at scale Spark runs it as a
    map-side WindowGroupLimit (top-5 per partition before the exchange),
    so the shuffle carries at most 5 rows per (partition, source)."""
    d = _t(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|samp"))),
        F.col("doc_id"),
    )
    return (
        d.select("source", "doc_id")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 5)
    )


@register(
    "order_backlog_daily",
    f"""
    WITH oc AS (
      SELECT o.o_orderkey,
             CAST(epoch_us(o.o_orderdate) // {US_DAY} AS BIGINT) AS od,
             CAST(epoch_us(max(l.l_shipdate)) // {US_DAY} AS BIGINT) AS cd
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate),
    delta AS (
      SELECT od AS day_idx, 1 AS d FROM oc
      UNION ALL
      SELECT cd + 1, -1 FROM oc),
    g AS (SELECT day_idx, CAST(sum(d) AS BIGINT) AS dd
          FROM delta GROUP BY day_idx)
    SELECT make_timestamp(day_idx * {US_DAY}) AS day,
           CAST(sum(dd) OVER (ORDER BY day_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_open
    FROM g
    """,
)
def order_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-interval (backlog) curve: how many orders are OPEN on
    each day, where an order spans order date through its last lineitem
    ship date. The classic interval-stabbing rewrite that avoids joining
    every order against every day: each order contributes a +1/-1 delta
    pair, one keyed agg reduces deltas per day, and the running sum over
    the tiny day-grid frame (a SinglePartition window over ~thousands of
    rows, NOT the fact table) yields the concurrency curve."""
    from windflow_spark.operators.timeutil import event_micros

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    oc = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .withColumn("_rd", event_micros(li, "l_shipdate"))
        .withColumn("_od", event_micros(o, "o_orderdate"))
        .groupBy("o_orderkey", "_od")
        .agg(F.max("_rd").alias("_mrd"))
        .select(
            (F.col("_od") / F.lit(US_DAY)).cast("long").alias("od"),
            (F.col("_mrd") / F.lit(US_DAY)).cast("long").alias("cd"),
        )
    )
    delta = oc.select(
        F.explode(
            F.array(
                F.struct(F.col("od").alias("day_idx"), F.lit(1).alias("d")),
                F.struct((F.col("cd") + 1).alias("day_idx"), F.lit(-1).alias("d")),
            )
        ).alias("_x")
    ).select("_x.day_idx", "_x.d")
    g = delta.groupBy("day_idx").agg(F.sum("d").cast("long").alias("dd"))
    wc = W.orderBy("day_idx").rowsBetween(W.unboundedPreceding, W.currentRow)
    return g.select(
        F.timestamp_micros(F.col("day_idx") * F.lit(US_DAY)).alias("day"),
        F.sum("dd").over(wc).cast("long").alias("n_open"),
    )


@register(
    "conversion_within_24h",
    f"""
    WITH su AS (
      SELECT user_id, min(epoch_us(ts)) AS t0
      FROM events WHERE event_type = 'signup' GROUP BY user_id),
    conv AS (
      SELECT su.user_id
      FROM su
      WHERE EXISTS (
        SELECT 1 FROM events e
        WHERE e.user_id = su.user_id AND e.event_type = 'purchase'
          AND epoch_us(e.ts) >= su.t0
          AND epoch_us(e.ts) < su.t0 + {US_DAY}))
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM su) AS n_signup_users,
           (SELECT CAST(count(*) AS BIGINT) FROM conv) AS n_converted_24h,
           round((SELECT CAST(count(*) AS DOUBLE) FROM conv)
                 / (SELECT count(*) FROM su), 6) AS conversion_rate
    """,
)
def conversion_within_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deadline-bounded conversion: share of signup users with a purchase
    within 24 hours of their FIRST signup — the time-boxed sibling of the
    unbounded funnel (funnel_signup_purchase), which is what growth teams
    actually report. One keyed agg for first-signups, then a semi-join
    with the time window folded into the join condition (co-partitioned
    on user, K filtered scans — the funnel stage-frame shape)."""
    from windflow_spark.operators.timeutil import event_micros

    e = _t(spark, sf_dir, "events")
    ev = e.withColumn("_us", event_micros(e, "ts"))
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("_us").alias("t0"))
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("_us").alias("pt")
    )
    conv = su.join(
        pur,
        (su.user_id == pur.pu)
        & (pur.pt >= su.t0)
        & (pur.pt < su.t0 + F.lit(US_DAY)),
        "left_semi",
    )
    s_su = su.agg(F.count(F.lit(1)).cast("long").alias("n_signup_users"))
    s_cv = conv.agg(F.count(F.lit(1)).cast("long").alias("n_converted_24h"))
    return s_su.crossJoin(s_cv).select(
        "n_signup_users",
        "n_converted_24h",
        F.round(
            F.col("n_converted_24h").cast("double") / F.col("n_signup_users"), 6
        ).alias("conversion_rate"),
    )


@register(
    "ts_seasonal_adjusted_anomaly",
    """
    WITH d AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             round(sum(CAST(value AS DECIMAL(18,6))), 6)::DOUBLE AS daily
      FROM events GROUP BY 1, 2),
    s AS (SELECT event_type, day, daily,
                 round(daily - round(avg(daily) OVER (PARTITION BY event_type,
                                     dayofweek(day)), 6), 6) AS residual
          FROM d),
    m AS (SELECT event_type, quantile_cont(residual, 0.5) AS med
          FROM s GROUP BY event_type),
    sm AS (SELECT s.*, m.med FROM s JOIN m USING (event_type)),
    md AS (SELECT event_type, quantile_cont(abs(residual - med), 0.5) AS mad
           FROM sm GROUP BY event_type),
    z AS (SELECT sm.*, md.mad,
                 CASE WHEN md.mad > 0 THEN
                   round(CAST(0.6745 AS DOUBLE) * (sm.residual - sm.med)
                         / md.mad, 6)
                 END AS mod_z
          FROM sm JOIN md USING (event_type))
    SELECT event_type, day, daily, residual, mod_z,
           COALESCE(abs(mod_z) > CAST(3.5 AS DOUBLE), FALSE) AS is_anomaly
    FROM z
    """,
)
def ts_seasonal_adjusted_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-ADJUSTED robust anomaly detection: the day-of-week
    seasonal component is removed first (ts_seasonal_dow's residual),
    then the median/MAD modified z-score flags outliers in the
    deseasonalized signal — the composition that stops weekend troughs
    from drowning real anomalies (raw-series detectors flag every
    Saturday). Exact percentiles value-match DuckDB quantile_cont; the
    6dp pre-rounding of daily sums and residuals keeps both engines
    folding identical doubles."""
    e = _t(spark, sf_dir, "events")
    d = (
        e.groupBy(
            "event_type", F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
        )
        .agg(F.round(F.sum(F.col("value").cast("decimal(18,6)")), 6).cast("double").alias("daily"))
    )
    wdow = W.partitionBy("event_type", F.dayofweek("day"))
    s = d.withColumn(
        "residual",
        F.round(
            F.col("daily") - F.round(F.avg("daily").over(wdow), 6), 6
        ),
    )
    wk = W.partitionBy("event_type")
    sm = s.withColumn("med", F.percentile(F.col("residual"), F.lit(0.5)).over(wk))
    z = sm.withColumn(
        "mad",
        F.percentile(F.abs(F.col("residual") - F.col("med")), F.lit(0.5)).over(wk),
    )
    mz = F.when(
        F.col("mad") > 0,
        F.round(
            F.lit(0.6745) * (F.col("residual") - F.col("med")) / F.col("mad"), 6
        ),
    )
    return z.select(
        "event_type",
        "day",
        "daily",
        "residual",
        mz.alias("mod_z"),
        F.coalesce(F.abs(mz) > F.lit(3.5), F.lit(False)).alias("is_anomaly"),
    )


@register(
    "lexical_diversity_sources",
    """
    WITH d AS (
      SELECT source,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok,
             len(list_distinct(list_filter(string_split(text, ' '),
                                           x -> x <> ''))) AS n_dist
      FROM documents),
    per AS (SELECT source, n_tok, n_dist,
                   round(CAST(n_dist AS DOUBLE) / n_tok, 6) AS ttr
            FROM d WHERE n_tok > 0),
    cs AS (
      SELECT source, tok FROM (
        SELECT source,
               unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        FROM documents) GROUP BY source, tok)
    SELECT p.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(p.n_tok) AS BIGINT) AS n_tokens,
           round(avg(p.ttr), 6) AS mean_doc_ttr,
           round(CAST(max(cd.n_corpus_dist) AS DOUBLE) / sum(p.n_tok), 6)
             AS corpus_ttr
    FROM per p
    JOIN (SELECT source, CAST(count(*) AS BIGINT) AS n_corpus_dist
          FROM cs GROUP BY source) cd USING (source)
    GROUP BY p.source
    """,
)
def lexical_diversity_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token-ratio panel per source: mean per-document TTR (distinct
    tokens / tokens, the boilerplate/spam-poor-vocabulary signal) and the
    corpus-level TTR (source-wide distinct types over source token mass,
    which falls with corpus size per Heaps' law — the two numbers answer
    different questions and diverge sharply on templated sources). One
    token pass feeds both: per-doc distinct counts stay in-row
    (array_distinct), the corpus distinct is one (source, tok) reduce."""
    from windflow_spark.functions.text import tokens as _toks

    d = _t_wide(spark, sf_dir, "documents")
    per = d.select(
        "source",
        F.size(_toks("text")).cast("long").alias("n_tok"),
        F.size(F.array_distinct(_toks("text"))).cast("long").alias("n_dist"),
    ).filter(F.col("n_tok") > 0).withColumn(
        "ttr", F.round(F.col("n_dist").cast("double") / F.col("n_tok"), 6)
    )
    cd = (
        d.select("source", F.explode(_toks("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.lit(1).alias("_one"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_corpus_dist"))
    )
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.round(F.avg("ttr"), 6).alias("mean_doc_ttr"),
        )
        .join(cd, "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "mean_doc_ttr",
            F.round(
                F.col("n_corpus_dist").cast("double") / F.col("n_tokens"), 6
            ).alias("corpus_ttr"),
        )
    )


@register(
    "dup_cluster_size_dist",
    """
    WITH c AS (SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS sz
               FROM documents GROUP BY md5(text)),
    d AS (SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters FROM c
          GROUP BY sz),
    w AS (SELECT sz, n_clusters, sz * n_clusters AS n_docs,
                 SUM(sz * n_clusters) OVER () AS total
          FROM d)
    SELECT sz AS cluster_size, n_clusters,
           CAST(n_docs AS BIGINT) AS n_docs,
           round(CAST(n_docs AS DOUBLE) / total, 6) AS pct_docs
    FROM w
    """,
)
def dup_cluster_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication profile of the corpus: the distribution of exact-dup
    cluster sizes (1 = unique) with each size's share of documents — the
    before/after panel for any dedup run and the first diagnostic when a
    crawl goes wrong (a fat tail here means a template or a replay). Two
    keyed reduces over shrinking frames + a window total over the tiny
    size histogram."""
    d = _t_wide(spark, sf_dir, "documents")
    c = d.groupBy(F.md5(F.col("text")).alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    dist = c.groupBy("sz").agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
    w = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return dist.select(
        F.col("sz").alias("cluster_size"),
        "n_clusters",
        (F.col("sz") * F.col("n_clusters")).cast("long").alias("n_docs"),
        F.round(
            (F.col("sz") * F.col("n_clusters")).cast("double")
            / F.sum(F.col("sz") * F.col("n_clusters")).over(
                W.partitionBy().rowsBetween(
                    W.unboundedPreceding, W.unboundedFollowing
                )
            ),
            6,
        ).alias("pct_docs"),
    )


@register(
    "dedup_containment",
    """
    WITH d AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents),
    b AS (
      SELECT doc_id, toks,
             concat_ws(' ', toks[1], toks[2], toks[3], toks[4], toks[5]) AS bucket
      FROM d WHERE len(toks) >= 5),
    sh AS (
      SELECT doc_id, bucket,
             list_distinct(list_transform(generate_series(1, len(toks) - 2),
                 i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS s
      FROM b),
    p AS (
      SELECT a.doc_id AS id_a, b2.doc_id AS id_b, a.s AS sa, b2.s AS sb
      FROM sh a JOIN sh b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id)
    SELECT id_a, id_b,
           round(len(list_intersect(sa, sb))::DOUBLE
                 / least(len(sa), len(sb)), 4) AS containment
    FROM p
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup scoring: containment = |A∩B| / min(|A|,|B|) —
    catches subset duplication (a doc embedded verbatim inside a longer
    one) that Jaccard structurally misses (the union denominator dilutes
    a perfect subset to a low score). Same prefix-bucket candidate join
    as dedup_ngram_jaccard — only the verify metric changes, which is the
    point: candidate generation and scoring compose independently."""
    from windflow_spark.functions.dedup import shingle_sets
    from windflow_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    buckets = (
        docs.select("doc_id", tokens("text").alias("_toks"))
        .filter(F.size("_toks") >= 5)
        .select("doc_id", F.concat_ws(" ", F.slice("_toks", 1, 5)).alias("bucket"))
    )
    d = buckets.join(shingle_sets(docs), "doc_id").select(
        "doc_id", "bucket", F.col("_sh").alias("s")
    )
    a = d.alias("a")
    b = d.alias("b")
    inter = F.size(F.array_intersect(F.col("a.s"), F.col("b.s")))
    denom = F.least(F.size(F.col("a.s")), F.size(F.col("b.s")))
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.round(inter.cast("double") / denom, 4).alias("containment"),
        )
    )


@register(
    "abc_pareto_customers",
    """
    WITH r AS (
      SELECT o_custkey,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) * 100
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey),
    s AS (SELECT o_custkey, cents,
                 SUM(cents) OVER (ORDER BY cents DESC, o_custkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 row_number() OVER (ORDER BY cents DESC, o_custkey) AS rk,
                 SUM(cents) OVER () AS total,
                 COUNT(*) OVER () AS n
          FROM r)
    SELECT CAST(max(n) AS BIGINT) AS n_customers,
           CAST(count(*) FILTER (WHERE (cum - cents) * 5 < total * 4)
                AS BIGINT) AS n_top80,
           round(CAST(sum(cents) FILTER (WHERE rk * 10 <= n + 9)
                      AS DOUBLE) / max(total), 6) AS share_top10pct
    FROM s
    """,
)
def abc_pareto_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC concentration analysis: how many customers cover 80 %
    of revenue, and what share the top decile of customers holds — the
    account-concentration readout next to revenue_gini_segments'
    inequality coefficient. Exact-cents BIGINT arithmetic end to end
    (decimal-summed revenue, integer cross-multiplication instead of
    float thresholds), so the 80 % boundary cannot flip on a rounding
    difference. The ranking sorts the CUSTOMER-sized frame (dimension
    scale — the rfm/ntile SinglePartition shape), never the fact table."""
    o = _t(spark, sf_dir, "orders")
    r = o.groupBy("o_custkey").agg(
        (
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2) * 100
        )
        .cast("long")
        .alias("cents")
    )
    ws = W.orderBy(F.desc("cents"), F.asc("o_custkey"))
    wall = W.partitionBy().rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    s = (
        r.withColumn(
            "cum",
            F.sum("cents").over(
                ws.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .withColumn("rk", F.row_number().over(ws))
        .withColumn("total", F.sum("cents").over(wall))
        .withColumn("n", F.count(F.lit(1)).over(wall))
    )
    return s.agg(
        F.max("n").cast("long").alias("n_customers"),
        F.count(
            F.when((F.col("cum") - F.col("cents")) * 5 < F.col("total") * 4, 1)
        )
        .cast("long")
        .alias("n_top80"),
        F.round(
            F.sum(F.when(F.col("rk") * 10 <= F.col("n") + 9, F.col("cents")))
            .cast("double")
            / F.max("total"),
            6,
        ).alias("share_top10pct"),
    )


@register(
    "curate_quality_budget",
    """
    WITH q AS (
      SELECT doc_id, source,
             len(list_filter(string_split(text, ' '), x -> x <> ''))
               AS n_tok,
             least(1.0, len(list_filter(string_split(text, ' '),
                                        x -> x <> '')) / 100.0)
               * (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                  / greatest(length(text), 1)) AS q
      FROM documents),
    r AS (
      SELECT *, sum(n_tok) OVER (PARTITION BY source
                 ORDER BY q DESC, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM q),
    k AS (SELECT * FROM r WHERE cum - n_tok < 2000)
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs_kept,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens_kept,
           round(min(q), 6) AS min_quality_kept
    FROM k GROUP BY source
    """,
)
def curate_quality_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked token-budget curation: per source, keep the
    highest-quality documents greedily until the token budget (2000) is
    exhausted — the standard data-curation selection (quality filter +
    budget cap composed), versus sample_token_budget's unbiased
    hash-order cap. A doc is kept if it STARTS before the budget runs
    out, so every source spends its budget fully. One window cumsum per
    source over unrounded IEEE quality scores (identical ordering on
    both engines; ties broken by doc_id)."""
    from windflow_spark.functions.text import quality_score, tokens as _toks

    d = quality_score(_t_wide(spark, sf_dir, "documents"))
    q = d.select(
        "doc_id",
        "source",
        F.size(_toks("text")).cast("long").alias("n_tok"),
        F.col("q_score").alias("q"),
    )
    wq = W.partitionBy("source").orderBy(F.desc("q"), F.asc("doc_id")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    r = q.withColumn("cum", F.sum("n_tok").over(wq))
    k = r.filter(F.col("cum") - F.col("n_tok") < 2000)
    return k.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
        F.sum("n_tok").cast("long").alias("n_tokens_kept"),
        F.round(F.min("q"), 6).alias("min_quality_kept"),
    )


def _daily_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-count series (event_type, bidx, cnt): bidx is the UTC
    day index floor(epoch-µs / US_DAY), cnt the BIGINT event count — one
    keyed aggregation over the raw events. Shared by the daily-series
    queries (`ts_acf_daily`, `ts_mase_seasonal_naive`,
    `ts_theilsen_trend`, `durbin_watson_daily_events`,
    `ts_bollinger_daily`, `mann_kendall_trend_daily`,
    `sax_symbols_daily`, `hurst_rs_daily`); the frame is calendar-bounded,
    so everything downstream of it is dimension-scale."""
    from windflow_spark.operators.timeutil import event_micros

    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn(
            "bidx", F.floor(event_micros(ev, "ts") / F.lit(US_DAY)).cast("long")
        )
        .groupBy("event_type", "bidx")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


@register(
    "ts_acf_daily",
    f"""
    WITH c AS (
      SELECT event_type,
             CAST(epoch_us(ts) // {US_DAY} AS BIGINT) AS bidx,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    l AS (SELECT event_type, bidx, cnt,
                 lag(cnt, 1) OVER (PARTITION BY event_type ORDER BY bidx)
                   AS l1,
                 lag(cnt, 2) OVER (PARTITION BY event_type ORDER BY bidx)
                   AS l2,
                 lag(cnt, 3) OVER (PARTITION BY event_type ORDER BY bidx)
                   AS l3
          FROM c),
    s AS (SELECT event_type, CAST(1 AS INT) AS lag_k, cnt, l1 AS prev
          FROM l WHERE l1 IS NOT NULL
          UNION ALL
          SELECT event_type, CAST(2 AS INT), cnt, l2 FROM l
          WHERE l2 IS NOT NULL
          UNION ALL
          SELECT event_type, CAST(3 AS INT), cnt, l3 FROM l
          WHERE l3 IS NOT NULL)
    SELECT event_type, lag_k, CAST(count(*) AS BIGINT) AS n_pairs,
           round(corr(cnt, prev), 6) AS acf
    FROM s GROUP BY event_type, lag_k
    """,
)
def ts_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function (lags 1-3) of the daily event-count
    series per type — the seasonality / persistence diagnostic that sits
    upstream of the EWMA/Holt smoothers (is there structure worth
    modelling?). One keyed exchange builds the daily series; the three
    lag columns come from the SAME sorted window pass (one sort, three
    frames); the lagged pairs are unpivoted and correlated per (type,
    lag). Day-count is bounded by the calendar span, so the per-type
    series — and all window state — stays dimension-scale no matter how
    many raw events the scan reads. Spark corr ≡ DuckDB corr (both
    sample Pearson; 6dp collapses summation-order ulps)."""
    c = _daily_event_counts(spark, sf_dir)
    w = W.partitionBy("event_type").orderBy("bidx")
    l = c.select(
        "event_type",
        "cnt",
        F.lag("cnt", 1).over(w).alias("l1"),
        F.lag("cnt", 2).over(w).alias("l2"),
        F.lag("cnt", 3).over(w).alias("l3"),
    )
    s = l.select(
        "event_type",
        "cnt",
        F.expr(
            "stack(3, 1, l1, 2, l2, 3, l3) AS (lag_k, prev)"
        ),
    ).filter(F.col("prev").isNotNull())
    return s.groupBy("event_type", "lag_k").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(F.corr("cnt", "prev"), 6).alias("acf"),
    )


@register(
    "ts_mase_seasonal_naive",
    f"""
    WITH c AS (
      SELECT event_type,
             CAST(epoch_us(ts) // {US_DAY} AS BIGINT) AS bidx,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    l AS (SELECT event_type, bidx, cnt,
                 lag(cnt, 1) OVER (PARTITION BY event_type ORDER BY bidx)
                   AS l1,
                 lag(cnt, 7) OVER (PARTITION BY event_type ORDER BY bidx)
                   AS l7
          FROM c)
    SELECT event_type,
           CAST(count(*) FILTER (WHERE l7 IS NOT NULL) AS BIGINT)
             AS n_forecasts,
           round(avg(CAST(abs(cnt - l7) AS DOUBLE))
                   FILTER (WHERE l7 IS NOT NULL), 6) AS mae_seasonal,
           round(avg(CAST(abs(cnt - l1) AS DOUBLE))
                   FILTER (WHERE l1 IS NOT NULL), 6) AS mae_naive,
           round(avg(CAST(abs(cnt - l7) AS DOUBLE))
                   FILTER (WHERE l7 IS NOT NULL)
                 / avg(CAST(abs(cnt - l1) AS DOUBLE))
                   FILTER (WHERE l1 IS NOT NULL), 6) AS mase
    FROM l GROUP BY event_type
    """,
)
def ts_mase_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-quality readout: MASE of the seasonal-naive (lag-7)
    forecast against the one-step-naive (lag-1) denominator on the daily
    count series per type — the standard scale-free error metric that
    tells you whether weekly seasonality beats pure persistence before
    you bother fitting Holt/Holt-Winters. Same single sorted window pass
    as ts_acf_daily (two lag frames, one exchange); integer |errors|
    averaged as doubles and rounded (integer sums would be exact, but the
    ratio is a double either way)."""
    c = _daily_event_counts(spark, sf_dir)
    w = W.partitionBy("event_type").orderBy("bidx")
    l = c.select(
        "event_type",
        "cnt",
        F.lag("cnt", 1).over(w).alias("l1"),
        F.lag("cnt", 7).over(w).alias("l7"),
    )
    e7 = F.abs(F.col("cnt") - F.col("l7")).cast("double")
    e1 = F.abs(F.col("cnt") - F.col("l1")).cast("double")
    m7 = F.avg(F.when(F.col("l7").isNotNull(), e7))
    m1 = F.avg(F.when(F.col("l1").isNotNull(), e1))
    return l.groupBy("event_type").agg(
        F.count(F.when(F.col("l7").isNotNull(), 1)).cast("long").alias(
            "n_forecasts"
        ),
        F.round(m7, 6).alias("mae_seasonal"),
        F.round(m1, 6).alias("mae_naive"),
        F.round(m7 / m1, 6).alias("mase"),
    )


@register(
    "ts_theilsen_trend",
    f"""
    WITH c AS (
      SELECT event_type,
             CAST(epoch_us(ts) // {US_DAY} AS BIGINT) AS bidx,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    p AS (SELECT a.event_type,
                 CAST(b.cnt - a.cnt AS DOUBLE) / (b.bidx - a.bidx) AS slope
          FROM c a JOIN c b
            ON a.event_type = b.event_type AND a.bidx < b.bidx)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(quantile_cont(slope, 0.5), 6) AS theilsen_slope
    FROM p GROUP BY event_type
    """,
)
def ts_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend: the median of all pairwise slopes of the
    daily count series per type — the outlier-immune alternative to the
    OLS slope in the corr/OLS battery (a single anomalous day cannot drag
    it). The pairwise self-join runs on the DAILY AGGREGATE (calendar-
    bounded, dimension-scale), never the raw events, so the O(d²) pair
    count is a constant ~d²/2 per type regardless of data volume; the
    raw table contributes exactly one keyed exchange. Each slope is one
    integer subtraction and one division — bit-identical across engines —
    and Spark percentile ≡ DuckDB quantile_cont bit-exact (established
    parity)."""
    c = _daily_event_counts(spark, sf_dir)
    a = c.alias("a")
    b = c.alias("b")
    slope = (
        (F.col("b.cnt") - F.col("a.cnt")).cast("double")
        / (F.col("b.bidx") - F.col("a.bidx"))
    ).alias("slope")
    p = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.bidx") < F.col("b.bidx")),
    ).select(F.col("a.event_type").alias("event_type"), slope)
    return p.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(F.expr("percentile(slope, 0.5)"), 6).alias("theilsen_slope"),
    )


@register(
    "gopher_quality_rules",
    """
    WITH d AS (
      SELECT source,
             list_filter(string_split(text, ' '), x -> x <> '') AS words
      FROM documents),
    s AS (
      SELECT source,
             len(words) AS n_tok,
             CAST(list_sum(list_transform(words, w -> length(w)))
                  AS DOUBLE) / len(words) AS mean_wl,
             len(list_intersect(words,
                 ['the','a','of','and','to','in','is','that'])) AS n_stop,
             CAST(len(list_distinct(words)) AS DOUBLE) / len(words)
               AS distinct_ratio
      FROM d),
    r AS (
      SELECT source,
             CASE WHEN n_tok >= 30 AND n_tok <= 100000 THEN 1 ELSE 0 END
               AS p_len,
             CASE WHEN mean_wl >= CAST(3 AS DOUBLE)
                   AND mean_wl <= CAST(10 AS DOUBLE) THEN 1 ELSE 0 END
               AS p_wl,
             CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS p_stop,
             CASE WHEN distinct_ratio >= CAST(0.4 AS DOUBLE)
               THEN 1 ELSE 0 END AS p_div
      FROM s)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(p_len) AS BIGINT) AS n_pass_len,
           CAST(sum(p_wl) AS BIGINT) AS n_pass_wordlen,
           CAST(sum(p_stop) AS BIGINT) AS n_pass_stopword,
           CAST(sum(p_div) AS BIGINT) AS n_pass_diversity,
           CAST(sum(p_len * p_wl * p_stop * p_div) AS BIGINT) AS n_pass_all,
           round(CAST(sum(p_len * p_wl * p_stop * p_div) AS DOUBLE)
                 / count(*), 6) AS pass_rate
    FROM r GROUP BY source
    """,
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style (Rae et al. 2021, arXiv:2112.11446 §A1.1) repetition/
    quality rule battery per source: word-count bounds, mean-word-length
    band [3,10], ≥2 distinct stopwords, and a distinct-token diversity
    floor — the published heuristic filter suite next to the repo's
    continuous q_score. Every rule is a pure JVM column expression over
    ONE pass of the corpus (no explode, no shuffle besides the final
    source agg); per-row ratios stay raw IEEE doubles (bit-identical
    across engines) and only the final pass_rate is rounded."""
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    stop = F.array(*[F.lit(w) for w in
                     ["the", "a", "of", "and", "to", "in", "is", "that"]])
    d = _t(spark, sf_dir, "documents").select(
        "source",
        F.size(toks).alias("n_tok"),
        (
            F.aggregate(
                F.transform(toks, lambda t: F.length(t)),
                F.lit(0),
                lambda acc, x: acc + x,
            ).cast("double")
            / F.size(toks)
        ).alias("mean_wl"),
        F.size(F.array_intersect(toks, stop)).alias("n_stop"),
        (
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
        ).alias("distinct_ratio"),
    )
    p = d.select(
        "source",
        F.when((F.col("n_tok") >= 30) & (F.col("n_tok") <= 100000), 1)
        .otherwise(0)
        .alias("p_len"),
        F.when(
            (F.col("mean_wl") >= F.lit(3.0)) & (F.col("mean_wl") <= F.lit(10.0)),
            1,
        )
        .otherwise(0)
        .alias("p_wl"),
        F.when(F.col("n_stop") >= 2, 1).otherwise(0).alias("p_stop"),
        F.when(F.col("distinct_ratio") >= F.lit(0.4), 1)
        .otherwise(0)
        .alias("p_div"),
    )
    allp = F.col("p_len") * F.col("p_wl") * F.col("p_stop") * F.col("p_div")
    return p.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("p_len").cast("long").alias("n_pass_len"),
        F.sum("p_wl").cast("long").alias("n_pass_wordlen"),
        F.sum("p_stop").cast("long").alias("n_pass_stopword"),
        F.sum("p_div").cast("long").alias("n_pass_diversity"),
        F.sum(allp).cast("long").alias("n_pass_all"),
        F.round(
            F.sum(allp).cast("double") / F.count(F.lit(1)), 6
        ).alias("pass_rate"),
    )


@register(
    "benford_order_prices",
    """
    WITH c AS (
      SELECT CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100, 0)
                  AS BIGINT) AS cents
      FROM orders),
    d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit
          FROM c WHERE cents > 0),
    g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit),
    t AS (SELECT g.*, SUM(n) OVER () AS total FROM g)
    SELECT digit, n AS n_orders,
           round(CAST(n AS DOUBLE) / total, 6) AS obs_freq,
           round(log10(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / digit), 6)
             AS benford_freq,
           round(abs(round(CAST(n AS DOUBLE) / total, 6)
                     - round(log10(CAST(1 AS DOUBLE)
                                   + CAST(1 AS DOUBLE) / digit), 6)), 6)
             AS abs_dev
    FROM t
    """,
)
def benford_order_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    fraud / synthetic-data fingerprint check (natural multiplicative
    amounts follow P(d)=log10(1+1/d); fabricated ones usually don't).
    The leading digit comes from the STRING of the exact BIGINT cents
    (decimal arithmetic end to end) — never from floor(log10(price)),
    whose float edge at exact powers of ten can misclassify. One 9-row
    aggregate; the total rides a window over it. Deviation is computed
    from the two 6dp-rounded frequencies, so the comparison is
    engine-exact."""
    o = _t(spark, sf_dir, "orders")
    cents = (
        F.round(F.col("o_totalprice").cast("decimal(18,6)") * 100, 0)
        .cast("long")
        .alias("cents")
    )
    d = (
        o.select(cents)
        .filter(F.col("cents") > 0)
        .select(
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
    )
    g = d.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    t = g.withColumn(
        "total",
        F.sum("n_orders").over(
            W.partitionBy().rowsBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        ),
    )
    obs = F.round(F.col("n_orders").cast("double") / F.col("total"), 6)
    ben = F.round(F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")), 6)
    return t.select(
        "digit",
        "n_orders",
        obs.alias("obs_freq"),
        ben.alias("benford_freq"),
        F.round(F.abs(obs - ben), 6).alias("abs_dev"),
    )


@register(
    "bootstrap_revenue_ci",
    """
    WITH c AS (
      SELECT o_orderkey,
             CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100, 0)
                  AS BIGINT) AS cents
      FROM orders),
    rep AS (SELECT unnest(generate_series(0, 7)) AS r),
    u AS (
      SELECT rep.r, c.cents,
             CAST(('0x' || substr(md5(c.o_orderkey::VARCHAR || ':' ||
                                      rep.r::VARCHAR), 1, 8))::UBIGINT
                  AS DOUBLE) / 4294967296.0 AS uni
      FROM c CROSS JOIN rep),
    w AS (
      SELECT r, cents,
             CASE
               WHEN uni < CAST(0.36787944117144233 AS DOUBLE) THEN 0
               WHEN uni < CAST(0.7357588823428847 AS DOUBLE) THEN 1
               WHEN uni < CAST(0.9196986029286058 AS DOUBLE) THEN 2
               WHEN uni < CAST(0.9810118431238463 AS DOUBLE) THEN 3
               WHEN uni < CAST(0.9963401531726563 AS DOUBLE) THEN 4
               WHEN uni < CAST(0.9994058151824183 AS DOUBLE) THEN 5
               WHEN uni < CAST(0.999916758850712 AS DOUBLE) THEN 6
               WHEN uni < CAST(0.9999897508033253 AS DOUBLE) THEN 7
               ELSE 8
             END AS k
      FROM u),
    est AS (
      SELECT r,
             CAST(sum(k * cents) AS DOUBLE)
               / CAST(sum(k) AS DOUBLE) / CAST(100 AS DOUBLE) AS est,
             CAST(sum(k) AS BIGINT) AS n_eff
      FROM w GROUP BY r)
    SELECT CAST(count(*) AS BIGINT) AS n_replicates,
           round(avg(est), 6) AS est_mean,
           round(stddev_samp(est), 6) AS boot_se,
           round(min(est), 6) AS est_min,
           round(max(est), 6) AS est_max,
           CAST(min(n_eff) AS BIGINT) AS min_n_eff
    FROM est
    """,
)
def bootstrap_revenue_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap (the at-scale resampling method — per-row
    independent Poisson(1) weights instead of a global n-out-of-n draw,
    so each replicate is a single weighted aggregate with NO resample
    shuffle): 8 deterministic replicates of mean order revenue, with the
    across-replicate stddev as the bootstrap standard error. The weight
    is the Poisson(1) inverse CDF of an md5-derived uniform (seeded by
    (orderkey, replicate) — reproducible on any engine / partitioning);
    weighted sums stay exact BIGINT cents, so each replicate estimate is
    bit-deterministic; only the 8-row summary is rounded. Scales as one
    8x row-replication + one 8-group aggregate."""
    o = _t_wide(spark, sf_dir, "orders")
    cents = (
        F.round(F.col("o_totalprice").cast("decimal(18,6)") * 100, 0)
        .cast("long")
        .alias("cents")
    )
    c = o.select("o_orderkey", cents)
    rep = c.withColumn("r", F.explode(F.sequence(F.lit(0), F.lit(7))))
    uni = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("o_orderkey").cast("string"),
                        F.col("r").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        .cast("double")
        / F.lit(4294967296.0)
    )
    thresholds = [
        0.36787944117144233,
        0.7357588823428847,
        0.9196986029286058,
        0.9810118431238463,
        0.9963401531726563,
        0.9994058151824183,
        0.999916758850712,
        0.9999897508033253,
    ]
    k = F.lit(8)
    for i in range(len(thresholds) - 1, -1, -1):
        k = F.when(uni < F.lit(thresholds[i]), i).otherwise(k)
    w = rep.select("r", "cents", k.alias("k"))
    est = w.groupBy("r").agg(
        (
            F.sum(F.col("k") * F.col("cents")).cast("double")
            / F.sum("k").cast("double")
            / F.lit(100.0)
        ).alias("est"),
        F.sum("k").cast("long").alias("n_eff"),
    )
    return est.agg(
        F.count(F.lit(1)).cast("long").alias("n_replicates"),
        F.round(F.avg("est"), 6).alias("est_mean"),
        F.round(F.stddev_samp("est"), 6).alias("boot_se"),
        F.round(F.min("est"), 6).alias("est_min"),
        F.round(F.max("est"), 6).alias("est_max"),
        F.min("n_eff").cast("long").alias("min_n_eff"),
    )


@register(
    "ks_drift_order_prices",
    """
    WITH c AS (
      SELECT CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100, 0)
                  AS BIGINT) AS cents,
             CASE WHEN o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
               THEN 0 ELSE 1 END AS pop
      FROM orders),
    mm AS (SELECT min(cents) AS mn, max(cents) AS mx FROM c),
    b AS (
      SELECT CAST(((c.cents - mm.mn) * 256) // (mm.mx - mm.mn + 1)
                  AS BIGINT) AS bin,
             c.pop
      FROM c CROSS JOIN mm),
    g AS (
      SELECT bin,
             CAST(count(*) FILTER (WHERE pop = 0) AS BIGINT) AS na,
             CAST(count(*) FILTER (WHERE pop = 1) AS BIGINT) AS nb
      FROM b GROUP BY bin),
    cu AS (
      SELECT bin, na, nb,
             SUM(na) OVER (ORDER BY bin) AS ca,
             SUM(nb) OVER (ORDER BY bin) AS cb,
             SUM(na) OVER () AS ta,
             SUM(nb) OVER () AS tb
      FROM g)
    SELECT CAST(max(ta) AS BIGINT) AS n_before,
           CAST(max(tb) AS BIGINT) AS n_after,
           CAST(count(*) AS BIGINT) AS n_bins_used,
           round(max(abs(CAST(ca AS DOUBLE) / ta
                         - CAST(cb AS DOUBLE) / tb)), 6) AS ks_d,
           round(CAST(1.36 AS DOUBLE)
                 * sqrt(CAST(max(ta) + max(tb) AS DOUBLE)
                        / (CAST(max(ta) AS DOUBLE) * max(tb))), 6)
             AS crit_05
    FROM cu
    """,
)
def ks_drift_order_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic between the order-
    price distributions before/after a cutover date, on a 256-bin ECDF
    grid — the distribution-shift monitor beside psi_price_drift (PSI
    weights the body, KS reads the worst ECDF gap). Binned ON PURPOSE:
    the exact KS needs a global sort of every distinct value, which is
    the one plan shape that cannot scale; the fixed integer grid caps the
    error at the largest bin mass while keeping the job one conditional
    aggregate over the scan plus a 256-row cumulative pass (bounded, not
    data-scale). Min/max ride a one-row broadcast scalar; all bin math is
    exact BIGINT; the ECDF fractions are single correctly-rounded double
    divisions, identical on both engines. Alongside, the alpha=.05
    critical value 1.36*sqrt((na+nb)/(na*nb))."""
    o = _t(spark, sf_dir, "orders")
    c = o.select(
        F.round(F.col("o_totalprice").cast("decimal(18,6)") * 100, 0)
        .cast("long")
        .alias("cents"),
        F.when(
            F.col("o_orderdate") < F.lit("1998-07-01 00:00:00").cast("timestamp"),
            0,
        )
        .otherwise(1)
        .alias("pop"),
    )
    mm = c.agg(F.min("cents").alias("mn"), F.max("cents").alias("mx"))
    b = c.crossJoin(F.broadcast(mm)).select(
        F.floor(
            (F.col("cents") - F.col("mn")) * 256 / (F.col("mx") - F.col("mn") + 1)
        )
        .cast("long")
        .alias("bin"),
        "pop",
    )
    g = b.groupBy("bin").agg(
        F.count(F.when(F.col("pop") == 0, 1)).cast("long").alias("na"),
        F.count(F.when(F.col("pop") == 1, 1)).cast("long").alias("nb"),
    )
    wc = W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.partitionBy().rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    cu = g.select(
        "bin",
        "na",
        "nb",
        F.sum("na").over(wc).alias("ca"),
        F.sum("nb").over(wc).alias("cb"),
        F.sum("na").over(wall).alias("ta"),
        F.sum("nb").over(wall).alias("tb"),
    )
    return cu.agg(
        F.max("ta").cast("long").alias("n_before"),
        F.max("tb").cast("long").alias("n_after"),
        F.count(F.lit(1)).cast("long").alias("n_bins_used"),
        F.round(
            F.max(
                F.abs(
                    F.col("ca").cast("double") / F.col("ta")
                    - F.col("cb").cast("double") / F.col("tb")
                )
            ),
            6,
        ).alias("ks_d"),
        F.round(
            F.lit(1.36)
            * F.sqrt(
                (F.max("ta") + F.max("tb")).cast("double")
                / (F.max("ta").cast("double") * F.max("tb"))
            ),
            6,
        ).alias("crit_05"),
    )


@register(
    "mi_segment_priority",
    """
    WITH j AS (
      SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    cell AS (SELECT seg, pri, CAST(count(*) AS BIGINT) AS n
             FROM j GROUP BY seg, pri),
    m AS (
      SELECT seg, pri, n,
             SUM(n) OVER (PARTITION BY seg) AS nx,
             SUM(n) OVER (PARTITION BY pri) AS ny,
             SUM(n) OVER () AS nt
      FROM cell)
    SELECT CAST(max(nt) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_cells,
           round(sum((CAST(n AS DOUBLE) / nt)
                     * ln((CAST(n AS DOUBLE) * nt)
                          / (CAST(nx AS DOUBLE) * ny))), 6) AS mi_nats,
           round(-sum((CAST(n AS DOUBLE) / nt)
                      * ln(CAST(nx AS DOUBLE) / nt)), 6) AS h_segment,
           round(-sum((CAST(n AS DOUBLE) / nt)
                      * ln(CAST(ny AS DOUBLE) / nt)), 6) AS h_priority,
           round(sum((CAST(n AS DOUBLE) / nt)
                     * ln((CAST(n AS DOUBLE) * nt)
                          / (CAST(nx AS DOUBLE) * ny)))
                 / sqrt(sum(-(CAST(n AS DOUBLE) / nt)
                            * ln(CAST(nx AS DOUBLE) / nt))
                        * sum(-(CAST(n AS DOUBLE) / nt)
                              * ln(CAST(ny AS DOUBLE) / nt))), 6) AS nmi
    FROM m
    """,
)
def mi_segment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between customer market segment and
    order priority, with marginal entropies and the sqrt-normalized NMI —
    the information-theoretic dependence readout beside
    chi2_segment_priority's frequentist test (chi2 says 'is there any
    association', MI says 'how many bits does one tell you about the
    other'). Same scale shape as chi2: ONE (seg,pri) cell aggregate from
    the fact join; marginals are window sums over the 25-cell frame; the
    entropy sums run over 25 rows and are rounded at 6dp (summation-
    order ulps collapse, the key_skew_events precedent). H(X) falls out
    of the joint frame as -Σ p(x,y)·ln p(x) — no second scan."""
    o = _t(spark, sf_dir, "orders")
    cst = _t(spark, sf_dir, "customer")
    j = o.join(cst, o.o_custkey == cst.c_custkey).select(
        F.col("c_mktsegment").alias("seg"), F.col("o_orderpriority").alias("pri")
    )
    cell = j.groupBy("seg", "pri").agg(F.count(F.lit(1)).cast("long").alias("n"))
    frame = (W.unboundedPreceding, W.unboundedFollowing)
    m = cell.select(
        "seg",
        "pri",
        "n",
        F.sum("n").over(W.partitionBy("seg").rowsBetween(*frame)).alias("nx"),
        F.sum("n").over(W.partitionBy("pri").rowsBetween(*frame)).alias("ny"),
        F.sum("n").over(W.partitionBy().rowsBetween(*frame)).alias("nt"),
    )
    p = F.col("n").cast("double") / F.col("nt")
    mi_term = p * F.log(
        (F.col("n").cast("double") * F.col("nt"))
        / (F.col("nx").cast("double") * F.col("ny"))
    )
    hx_term = -p * F.log(F.col("nx").cast("double") / F.col("nt"))
    hy_term = -p * F.log(F.col("ny").cast("double") / F.col("nt"))
    return m.agg(
        F.max("nt").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.round(F.sum(mi_term), 6).alias("mi_nats"),
        F.round(F.sum(hx_term), 6).alias("h_segment"),
        F.round(F.sum(hy_term), 6).alias("h_priority"),
        F.round(
            F.sum(mi_term) / F.sqrt(F.sum(hx_term) * F.sum(hy_term)), 6
        ).alias("nmi"),
    )


@register(
    "target_encode_loo_segment",
    """
    WITH j AS (
      SELECT c.c_mktsegment AS seg,
             CAST(round(CAST(o.o_totalprice AS DECIMAL(18,6)) * 100, 0)
                  AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    s AS (SELECT seg, CAST(sum(cents) AS BIGINT) AS sc,
                 CAST(count(*) AS BIGINT) AS n
          FROM j GROUP BY seg),
    e AS (
      SELECT j.seg,
             CAST(s.sc - j.cents AS DOUBLE)
               / (s.n - 1) / CAST(100 AS DOUBLE) AS loo
      FROM j JOIN s USING (seg) WHERE s.n > 1)
    SELECT seg,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(avg(loo), 2) AS enc_mean,
           round(min(loo), 6) AS enc_min,
           round(max(loo), 6) AS enc_max
    FROM e GROUP BY seg
    """,
)
def target_encode_loo_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe leave-one-out target encoding of customer segment
    against order revenue: each row's encoded value is the segment mean
    WITHOUT that row ((S-y_i)/(n-1)) — the standard high-cardinality
    categorical encoder, in the form that cannot leak the row's own
    label (sits with split_group_holdout / split_temporal_embargo in the
    leakage-prevention family). Deliberately NOT a window by segment —
    5 segment partitions would serialize the sort at scale; instead ONE
    parallel groupBy builds the 5-row (S,n) table, which broadcasts back
    onto the fact rows, so every stage stays at full cluster
    parallelism. Sums are exact BIGINT cents; each LOO value is two
    correctly-rounded double ops (engine-identical); min/max are exact
    and only the float mean is 2dp-rounded."""
    o = _t(spark, sf_dir, "orders")
    cst = _t(spark, sf_dir, "customer")
    j = o.join(cst, o.o_custkey == cst.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("o_totalprice").cast("decimal(18,6)") * 100, 0)
        .cast("long")
        .alias("cents"),
    )
    s = j.groupBy("seg").agg(
        F.sum("cents").cast("long").alias("sc"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    e = (
        j.join(F.broadcast(s), "seg")
        .filter(F.col("n") > 1)
        .select(
            "seg",
            (
                (F.col("sc") - F.col("cents")).cast("double")
                / (F.col("n") - 1)
                / F.lit(100.0)
            ).alias("loo"),
        )
    )
    return e.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(F.avg("loo"), 2).alias("enc_mean"),
        F.round(F.min("loo"), 6).alias("enc_min"),
        F.round(F.max("loo"), 6).alias("enc_max"),
    )


@register(
    "graph_degree_powerlaw",
    """
    WITH d AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS deg
      FROM orders GROUP BY o_custkey),
    t AS (SELECT deg FROM d WHERE deg >= 2)
    SELECT CAST((SELECT count(*) FROM d) AS BIGINT) AS n_nodes,
           CAST(count(*) AS BIGINT) AS n_tail,
           CAST(2 AS BIGINT) AS d_min,
           CAST(max(deg) AS BIGINT) AS max_degree,
           round(avg(CAST(deg AS DOUBLE)), 6) AS mean_degree,
           round(CAST(1 AS DOUBLE)
                 + count(*) / sum(ln(CAST(deg AS DOUBLE)
                                     / CAST(1.5 AS DOUBLE))), 6)
             AS alpha_mle
    FROM t
    """,
)
def graph_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution tail diagnosis of the customer-order graph:
    the continuous power-law MLE alpha = 1 + n/Σ ln(d/(dmin-1/2)) (Clauset-
    Shalizi-Newman 2009 form, dmin=2) over the per-customer order counts —
    the skew fingerprint that predicts whether degree-keyed operations
    (joins, triangle counting) will need salting. One keyed degree
    aggregate; the MLE is a second global agg over the degree frame; the
    full-node count rides the same lineage (ReuseExchange). The log-sum
    is rounded at 6dp (summation-order ulps collapse)."""
    o = _t(spark, sf_dir, "orders")
    d = o.groupBy("o_custkey").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    t = d.filter(F.col("deg") >= 2)
    n_nodes = d.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    agg = t.agg(
        F.count(F.lit(1)).cast("long").alias("n_tail"),
        F.lit(2).cast("long").alias("d_min"),
        F.max("deg").cast("long").alias("max_degree"),
        F.round(F.avg(F.col("deg").cast("double")), 6).alias("mean_degree"),
        F.round(
            F.lit(1.0)
            + F.count(F.lit(1))
            / F.sum(F.log(F.col("deg").cast("double") / F.lit(1.5))),
            6,
        ).alias("alpha_mle"),
    )
    return n_nodes.crossJoin(F.broadcast(agg)).select(
        "n_nodes", "n_tail", "d_min", "max_degree", "mean_degree", "alpha_mle"
    )


@register(
    "recursive_trade_reachability",
    """
    WITH RECURSIVE ec AS (
      SELECT ns.n_name AS src, nc.n_name AS dst,
             CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation ns ON s.s_nationkey = ns.n_nationkey
      JOIN nation nc ON c.c_nationkey = nc.n_nationkey
      WHERE ns.n_name <> nc.n_name
      GROUP BY 1, 2),
    rk AS (SELECT src, dst,
                  CAST(row_number() OVER (PARTITION BY src
                       ORDER BY cnt DESC, dst) AS BIGINT) AS rk
           FROM ec),
    e AS (SELECT src, dst FROM rk WHERE rk <= 3),
    r AS (
      SELECT CAST('NATION_0' AS VARCHAR) AS node, 0 AS hop
      UNION ALL
      SELECT e.dst, r.hop + 1
      FROM r JOIN e ON e.src = r.node
      WHERE r.hop < 4
    )
    SELECT node, CAST(min(hop) AS BIGINT) AS hops
    FROM r GROUP BY node
    """,
)
def recursive_trade_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distance over the top-3-corridor trade graph via a
    RECURSIVE CTE — Spark 4's WITH RECURSIVE executed natively by
    Catalyst (the dedup_clusters / entity_resolution family expressed in
    pure SQL instead of a driver-driven Pregel loop; DuckDB runs the
    IDENTICAL statement). The heavy part — deriving nation-to-nation
    shipment volumes from the fact join — is fully distributed and
    aggregates to a ≤25-node graph; per-src top-3 pruning (rank ties
    broken by dst) bounds out-degree so the path expansion is ≤3^k rows
    per level with a hop<4 depth cap; min(hop) collapses multi-path
    visits. The recursion therefore iterates over a dimension-sized
    frame no matter the fact-table scale."""
    n = _t(spark, sf_dir, "nation")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    ns = n.select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("src")
    )
    nc = n.select(
        F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("dst")
    )
    ec = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(ns), s.s_nationkey == F.col("snk"))
        .join(F.broadcast(nc), c.c_nationkey == F.col("cnk"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    wk = W.partitionBy("src").orderBy(F.desc("cnt"), F.asc("dst"))
    e = (
        ec.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= 3)
        .select("src", "dst")
    )
    # Materialize the ≤25×3-row edge frame BEFORE the recursion: a temp
    # view is re-planned per iteration, so without this the full fact join
    # re-executes once per hop (measured 7 s → ~1 s at sf0.1; at 100 TB it
    # would be the whole scan × depth). The cache is dimension-sized — the
    # same bounded exception as the k-means codebook.
    e = e.persist()
    e.count()
    e.createOrReplaceTempView("_reach_edges")
    return spark.sql(
        """
        WITH RECURSIVE r AS (
          SELECT CAST('NATION_0' AS STRING) AS node, 0 AS hop
          UNION ALL
          SELECT e.dst, r.hop + 1
          FROM r JOIN _reach_edges e ON e.src = r.node
          WHERE r.hop < 4
        )
        SELECT node, CAST(min(hop) AS BIGINT) AS hops
        FROM r GROUP BY node
        """
    )


@register(
    "impute_median_missing",
    """
    WITH m AS (
      SELECT event_type, value,
             CASE WHEN substr(md5(event_id::VARCHAR), 1, 1) IN ('0', '1')
               THEN NULL ELSE value END AS v_obs
      FROM events),
    med AS (SELECT event_type, quantile_cont(v_obs, 0.5) AS med
            FROM m GROUP BY event_type)
    SELECT m.event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE m.v_obs IS NULL) AS BIGINT)
             AS n_missing,
           round(max(med.med), 6) AS impute_value,
           round(avg(m.v_obs), 2) AS mean_observed,
           round(avg(COALESCE(m.v_obs, med.med)), 2) AS mean_imputed,
           round(avg(m.value), 2) AS mean_true
    FROM m JOIN med USING (event_type)
    GROUP BY m.event_type
    """,
)
def impute_median_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median imputation of missing metric values per event type, with
    the before/after/ground-truth mean readout that shows the bias the
    imputation introduces. Missingness is SIMULATED deterministically
    (rows whose event-id md5 starts with 0/1 — exactly the engine-
    portable hash-mask used by the split_* family) because the synthetic
    feed has no real nulls; swap the mask for `value IS NULL` on a real
    feed. Per-type medians come from one groupBy (exact percentile ≡
    quantile_cont) and broadcast back onto the rows — the 5-row join
    never re-shuffles the fact table — and a second type agg reads the
    filled column. Float means are 2dp-rounded (house float-agg rule)."""
    e = _t(spark, sf_dir, "events")
    m = e.select(
        "event_type",
        "value",
        F.when(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 1).isin(
                "0", "1"
            ),
            F.lit(None).cast("double"),
        )
        .otherwise(F.col("value"))
        .alias("v_obs"),
    )
    med = m.groupBy("event_type").agg(
        F.expr("percentile(v_obs, 0.5)").alias("med")
    )
    j = m.join(F.broadcast(med), "event_type")
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count(F.when(F.col("v_obs").isNull(), 1)).cast("long").alias(
            "n_missing"
        ),
        F.round(F.max("med"), 6).alias("impute_value"),
        F.round(F.avg("v_obs"), 2).alias("mean_observed"),
        F.round(F.avg(F.coalesce(F.col("v_obs"), F.col("med"))), 2).alias(
            "mean_imputed"
        ),
        F.round(F.avg("value"), 2).alias("mean_true"),
    )


@register(
    "zipf_token_rank_slope",
    """
    WITH c AS (
      SELECT tok AS token, CAST(count(*) AS BIGINT) AS cnt
      FROM documents,
           unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS u(tok)
      GROUP BY tok),
    r AS (SELECT token, cnt,
                 CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT)
                   AS rk
          FROM c),
    t AS (SELECT ln(CAST(cnt AS DOUBLE)) AS y, ln(CAST(rk AS DOUBLE)) AS x
          FROM r WHERE rk <= 500)
    SELECT CAST(count(*) AS BIGINT) AS n_top,
           round(regr_slope(y, x), 6) AS slope,
           round(regr_intercept(y, x), 6) AS intercept,
           round(regr_r2(y, x), 6) AS r2
    FROM t
    """,
)
def zipf_token_rank_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus token frequencies: OLS of ln(count) on
    ln(rank) over the top-500 tokens (slope ≈ -1 for natural language —
    the companion diagnostic to `graph_degree_powerlaw`, on text instead of
    graph degrees; a corpus whose slope is far from -1 is boilerplate- or
    spam-dominated). One (token) shuffle for the counts; the top-500 is a
    distributed TakeOrdered (never a full-vocab single-partition sort);
    ranking + the regr_* aggregate then touch 500 rows. 6dp rounding
    collapses ln/summation-order ulps between engines."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("token")).filter(
        F.col("token") != ""
    )
    cnt = tok.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    top = cnt.orderBy(F.desc("cnt"), F.asc("token")).limit(500)
    rk = top.withColumn(
        "rk",
        F.row_number().over(W.orderBy(F.desc("cnt"), F.asc("token"))),
    )
    t = rk.select(
        F.log(F.col("cnt").cast("double")).alias("y"),
        F.log(F.col("rk").cast("double")).alias("x"),
    )
    return t.agg(
        F.count(F.lit(1)).cast("long").alias("n_top"),
        F.round(F.regr_slope("y", "x"), 6).alias("slope"),
        F.round(F.regr_intercept("y", "x"), 6).alias("intercept"),
        F.round(F.regr_r2("y", "x"), 6).alias("r2"),
    )


@register(
    "did_revenue_estimator",
    """
    WITH j AS (
      SELECT (c.c_mktsegment = 'BUILDING') AS treat,
             (o.o_orderdate >= TIMESTAMP '1998-01-01') AS post,
             o.o_totalprice AS v
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
    SELECT CAST(count(*) FILTER (WHERE NOT treat AND NOT post) AS BIGINT)
             AS n_ctrl_pre,
           CAST(count(*) FILTER (WHERE NOT treat AND post) AS BIGINT)
             AS n_ctrl_post,
           CAST(count(*) FILTER (WHERE treat AND NOT post) AS BIGINT)
             AS n_treat_pre,
           CAST(count(*) FILTER (WHERE treat AND post) AS BIGINT)
             AS n_treat_post,
           round(avg(v) FILTER (WHERE NOT treat AND NOT post), 2)
             AS mean_ctrl_pre,
           round(avg(v) FILTER (WHERE NOT treat AND post), 2)
             AS mean_ctrl_post,
           round(avg(v) FILTER (WHERE treat AND NOT post), 2)
             AS mean_treat_pre,
           round(avg(v) FILTER (WHERE treat AND post), 2)
             AS mean_treat_post,
           round((avg(v) FILTER (WHERE treat AND post)
                  - avg(v) FILTER (WHERE treat AND NOT post))
                 - (avg(v) FILTER (WHERE NOT treat AND post)
                    - avg(v) FILTER (WHERE NOT treat AND NOT post)), 2)
             AS did_estimate
    FROM j
    """,
)
def did_revenue_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator: treatment = BUILDING-segment
    customers, intervention = the 1998-01-01 cutover; DiD = (post−pre
    mean order value for treated) − (post−pre for control). The whole 2×2
    table plus the estimator is ONE conditional-aggregation pass over the
    fact⋈dim join (no per-cell frames — the one-pass-funnel lesson,
    CHANGES_r6 §2); the DiD is computed from the UNROUNDED cell means and
    rounded once at the end (house float-agg rule)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        (F.col("c_mktsegment") == "BUILDING").alias("treat"),
        (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp_ntz")).alias(
            "post"
        ),
        F.col("o_totalprice").alias("v"),
    )
    def _m(tr, po):
        return F.avg(F.when((F.col("treat") == tr) & (F.col("post") == po), F.col("v")))
    def _n(tr, po):
        return F.count(
            F.when((F.col("treat") == tr) & (F.col("post") == po), 1)
        ).cast("long")
    return j.agg(
        _n(False, False).alias("n_ctrl_pre"),
        _n(False, True).alias("n_ctrl_post"),
        _n(True, False).alias("n_treat_pre"),
        _n(True, True).alias("n_treat_post"),
        F.round(_m(False, False), 2).alias("mean_ctrl_pre"),
        F.round(_m(False, True), 2).alias("mean_ctrl_post"),
        F.round(_m(True, False), 2).alias("mean_treat_pre"),
        F.round(_m(True, True), 2).alias("mean_treat_post"),
        F.round(
            (_m(True, True) - _m(True, False))
            - (_m(False, True) - _m(False, False)),
            2,
        ).alias("did_estimate"),
    )


@register(
    "new_vs_returning_daily",
    """
    WITH e AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    f AS (SELECT user_id, min(day) AS day FROM e GROUP BY user_id),
    n AS (SELECT day, CAST(count(*) AS BIGINT) AS new_users FROM f
          GROUP BY day),
    a AS (SELECT day, CAST(count(*) AS BIGINT) AS active_users FROM e
          GROUP BY day)
    SELECT a.day, a.active_users,
           CAST(COALESCE(n.new_users, 0) AS BIGINT) AS new_users,
           CAST(a.active_users - COALESCE(n.new_users, 0) AS BIGINT)
             AS returning_users,
           CAST(sum(COALESCE(n.new_users, 0))
                OVER (ORDER BY a.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_users
    FROM a LEFT JOIN n USING (day)
    """,
)
def new_vs_returning_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning user decomposition plus the cumulative
    distinct-user curve — running COUNT(DISTINCT) reduced to a prefix sum:
    a user is 'new' only on min(day), so cumulative distinct users ≡
    running sum of daily new users (no re-scan per day, no quadratic
    distinct). Shapes: one (user, day) distinct shuffle, a per-user min,
    two day-keyed reductions, then a window over the ~days-sized summary
    (bounded regardless of fact scale)."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    f = e.groupBy("user_id").agg(F.min("day").alias("day"))
    n = f.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("new_users"))
    a = e.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("active_users")
    )
    j = a.join(n, "day", "left").select(
        "day",
        "active_users",
        F.coalesce(F.col("new_users"), F.lit(0).cast("long")).alias(
            "new_users"
        ),
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return j.select(
        "day",
        "active_users",
        "new_users",
        (F.col("active_users") - F.col("new_users")).alias("returning_users"),
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )


@register(
    "churn_rate_monthly",
    """
    WITH m AS (
      SELECT DISTINCT o_custkey,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
               AS mi
      FROM orders),
    g AS (SELECT m.mi,
                 CAST(count(*) AS BIGINT) AS active_customers,
                 CAST(count(nx.o_custkey) AS BIGINT) AS retained_customers
          FROM m LEFT JOIN m nx
            ON nx.o_custkey = m.o_custkey AND nx.mi = m.mi + 1
          GROUP BY m.mi),
    x AS (SELECT *, max(mi) OVER () AS gmax FROM g)
    SELECT make_date(CAST(mi // 12 AS INT), CAST(mi % 12 + 1 AS INT), 1)
             AS month_start,
           active_customers, retained_customers,
           active_customers - retained_customers AS churned_customers,
           round((active_customers - retained_customers)
                 / CAST(active_customers AS DOUBLE), 4) AS churn_rate
    FROM x WHERE mi < gmax
    """,
)
def churn_rate_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period customer churn: of the customers active in month
    m, the share with NO order in month m+1 (complement of the retention
    cohort view — `cohort_retention_weekly` tracks cohorts forward, this
    tracks consecutive-period survival). The fact table reduces to a
    distinct (customer, month-index) frame once; the m→m+1 check is an
    equi-self-join on (custkey, mi+1) — never an inequality scan; the
    final month (right-censored: no m+1 data exists) is excluded via a
    window max over the ~months-sized summary, not a driver collect."""
    o = _t(spark, sf_dir, "orders")
    m = o.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("long")
        .alias("mi"),
    ).distinct()
    nx = m.select(
        F.col("o_custkey").alias("nx_custkey"), F.col("mi").alias("nx_mi")
    )
    j = m.join(
        nx,
        (F.col("nx_custkey") == F.col("o_custkey"))
        & (F.col("nx_mi") == F.col("mi") + F.lit(1)),
        "left",
    )
    g = j.groupBy("mi").agg(
        F.count(F.lit(1)).cast("long").alias("active_customers"),
        F.count("nx_custkey").cast("long").alias("retained_customers"),
    )
    x = g.withColumn("gmax", F.max("mi").over(W.partitionBy()))
    return x.filter(F.col("mi") < F.col("gmax")).select(
        F.make_date(
            F.floor(F.col("mi") / 12).cast("int"),
            (F.col("mi") % 12 + 1).cast("int"),
            F.lit(1),
        ).alias("month_start"),
        "active_customers",
        "retained_customers",
        (F.col("active_customers") - F.col("retained_customers")).alias(
            "churned_customers"
        ),
        F.round(
            (F.col("active_customers") - F.col("retained_customers"))
            / F.col("active_customers").cast("double"),
            4,
        ).alias("churn_rate"),
    )


@register(
    "audience_jaccard_event_types",
    """
    WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
    s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM d
          GROUP BY event_type),
    p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                 CAST(count(*) AS BIGINT) AS n_both
          FROM d a JOIN d b ON a.user_id = b.user_id
                           AND a.event_type < b.event_type
          GROUP BY 1, 2)
    SELECT p.type_a, p.type_b, sa.n AS n_a, sb.n AS n_b, p.n_both,
           round(p.n_both / CAST(sa.n + sb.n - p.n_both AS DOUBLE), 6)
             AS jaccard
    FROM p JOIN s sa ON sa.event_type = p.type_a
           JOIN s sb ON sb.event_type = p.type_b
    """,
)
def audience_jaccard_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise audience-overlap Jaccard between event types — the
    exact companion to `approx_overlap_event_users` (which trades this
    for HLL sketches). The fact table reduces ONCE to a distinct (type,
    user) frame; pair counts come from a user-keyed equi-self-join of
    that reduced frame (intersections only — unions are derived as
    |A|+|B|−|A∩B|, never materialized); the T-row size table joins back
    broadcast. Scales with Σ per-user type-pair fan-out (≤ T² per user,
    T = #types), never with |users|²."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select("event_type", "user_id").distinct()
    s = d.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = d.select(F.col("event_type").alias("type_a"), "user_id")
    b = d.select(F.col("event_type").alias("type_b"), "user_id")
    p = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    sa = s.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = s.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        p.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            F.round(
                F.col("n_both")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )


@register(
    "revenue_bridge_yoy",
    """
    WITH j AS (
      SELECT c.c_mktsegment AS segment, o.o_totalprice AS v,
             CAST(o.o_totalprice AS DECIMAL(18,6)) AS dv,
             year(o.o_orderdate) AS yr
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE year(o.o_orderdate) IN (1997, 1998))
    SELECT segment,
           CAST(count(*) FILTER (WHERE yr = 1997) AS BIGINT) AS n_1997,
           CAST(count(*) FILTER (WHERE yr = 1998) AS BIGINT) AS n_1998,
           round(sum(dv) FILTER (WHERE yr = 1997), 2)::DOUBLE AS rev_1997,
           round(sum(dv) FILTER (WHERE yr = 1998), 2)::DOUBLE AS rev_1998,
           round(sum(dv) FILTER (WHERE yr = 1998)
                 - sum(dv) FILTER (WHERE yr = 1997), 2)::DOUBLE AS rev_delta,
           round((count(*) FILTER (WHERE yr = 1998)
                  - count(*) FILTER (WHERE yr = 1997))
                 * (CAST(sum(dv) FILTER (WHERE yr = 1997) AS DOUBLE)
                    / count(*) FILTER (WHERE yr = 1997)), 2) AS volume_effect,
           round(count(*) FILTER (WHERE yr = 1998)
                 * (CAST(sum(dv) FILTER (WHERE yr = 1998) AS DOUBLE)
                    / count(*) FILTER (WHERE yr = 1998)
                    - CAST(sum(dv) FILTER (WHERE yr = 1997) AS DOUBLE)
                      / count(*) FILTER (WHERE yr = 1997)), 2) AS price_effect
    FROM j GROUP BY segment
    """,
)
def revenue_bridge_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-bridge (waterfall) decomposition of the 1997→1998 change
    per market segment: Δrev = volume effect (Δn at old avg price) +
    price effect (new n at Δavg price) — the two terms sum to Δrev
    algebraically, so the decomposition is exact, not a model. ONE
    conditional-aggregation pass over the year-pruned fact⋈dim join (the
    year filter reaches the scan as a date range); effects are computed
    from UNROUNDED means and rounded once."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = (
        o.filter(F.year("o_orderdate").isin(1997, 1998))
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_totalprice").alias("v"),
            F.year("o_orderdate").alias("yr"),
        )
    )
    def _n(y):
        return F.count(F.when(F.col("yr") == y, 1))
    def _s(y):
        return F.sum(F.when(F.col("yr") == y, F.col("v")).cast("decimal(18,6)"))
    def _m(y):
        # exact mean: order-independent DECIMAL sum / exact count, one
        # double division at the end (same derivation in the oracle)
        return _s(y).cast("double") / _n(y)
    return j.groupBy("segment").agg(
        _n(1997).cast("long").alias("n_1997"),
        _n(1998).cast("long").alias("n_1998"),
        F.round(_s(1997), 2).cast("double").alias("rev_1997"),
        F.round(_s(1998), 2).cast("double").alias("rev_1998"),
        F.round(_s(1998) - _s(1997), 2).cast("double").alias("rev_delta"),
        F.round((_n(1998) - _n(1997)) * _m(1997), 2).alias("volume_effect"),
        F.round(_n(1998) * (_m(1998) - _m(1997)), 2).alias("price_effect"),
    )


@register(
    "weighted_median_price",
    """
    WITH r AS (
      SELECT l_returnflag, l_extendedprice,
             CAST(l_quantity AS BIGINT) AS w,
             sum(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING) AS cumw,
             sum(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag) AS totw
      FROM lineitem)
    SELECT l_returnflag,
           CAST(max(totw) AS BIGINT) AS total_weight,
           min(l_extendedprice) FILTER (WHERE 2 * cumw >= totw)
             AS weighted_median
    FROM r GROUP BY l_returnflag
    """,
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median line price per return flag: the price at
    which half the shipped QUANTITY (not half the rows) lies below — the
    inventory-weighted centre plain `percentile` can't express. Weights
    are cast to BIGINT (TPC-H quantities are integral), so the prefix-sum
    boundary test `2·cumw ≥ totw` is exact integer arithmetic —
    bit-identical across engines, immune to float prefix-sum ulps. Both
    window passes share ONE (returnflag) partitioning; the qualifying set
    is a suffix of the price order, so min(price) over it is the boundary
    row. The median value is an untouched parquet double (no rounding
    needed)."""
    li = _t(spark, sf_dir, "lineitem")
    wq = F.col("l_quantity").cast("long")
    order = [F.col("l_extendedprice"), F.col("l_orderkey"), F.col("l_linenumber")]
    wcum = (
        W.partitionBy("l_returnflag")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wtot = W.partitionBy("l_returnflag")
    r = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum(wq).over(wcum).alias("cumw"),
        F.sum(wq).over(wtot).alias("totw"),
    )
    return r.groupBy("l_returnflag").agg(
        F.max("totw").cast("long").alias("total_weight"),
        F.min(
            F.when(2 * F.col("cumw") >= F.col("totw"), F.col("l_extendedprice"))
        ).alias("weighted_median"),
    )


@register(
    "ccf_clicks_purchases_daily",
    """
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT)
               AS clicks,
             CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS purchases
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY day),
    l AS (SELECT CAST(range AS INT) AS lag_days FROM range(0, 8)),
    j AS (SELECT l.lag_days, b.clicks AS x, a.purchases AS y
          FROM d a CROSS JOIN l
          JOIN d b ON b.day = a.day - l.lag_days)
    SELECT lag_days, CAST(count(*) AS BIGINT) AS n_days,
           round(corr(y, x), 6) AS ccf
    FROM j GROUP BY lag_days
    """,
)
def ccf_clicks_purchases_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between the daily click and purchase
    series at lags 0–7: ccf(k) = corr(purchases_t, clicks_{t−k}) — the
    lead-lag discovery diagnostic (which k maximises ccf ⇒ clicks lead
    purchases by k days). The fact table reduces to ONE days-sized frame;
    the 8 lags broadcast-replicate that summary (8-row BNLJ, allowlisted)
    and each lag self-aligns via an equi-join on the shifted day. Fact
    scale only ever affects the first aggregation."""
    ev = _t(spark, sf_dir, "events")
    d = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count(F.when(F.col("event_type") == "click", 1))
            .cast("long")
            .alias("clicks"),
            F.count(F.when(F.col("event_type") == "purchase", 1))
            .cast("long")
            .alias("purchases"),
        )
    )
    lags = spark.range(0, 8).select(F.col("id").cast("int").alias("lag_days"))
    a = d.select("day", "purchases").crossJoin(F.broadcast(lags))
    b = d.select(F.col("day").alias("bday"), "clicks")
    j = a.join(b, F.col("bday") == F.date_sub(F.col("day"), F.col("lag_days")))
    return j.groupBy("lag_days").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(F.corr(F.col("purchases"), F.col("clicks")), 6).alias("ccf"),
    )


@register(
    "alert_hysteresis_daily",
    """
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    m AS (SELECT *, avg(cnt) OVER (PARTITION BY event_type) AS mu FROM d),
    f AS (SELECT *,
                 CASE WHEN cnt > CAST(1.2 AS DOUBLE) * mu THEN TRUE
                      WHEN cnt < CAST(0.9 AS DOUBLE) * mu THEN FALSE
                 END AS forced
          FROM m),
    s AS (SELECT *,
                 COALESCE(last_value(forced IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   FALSE) AS alert
          FROM f),
    t AS (SELECT *,
                 COALESCE(lag(alert) OVER (
                   PARTITION BY event_type ORDER BY day), FALSE) AS prev
          FROM s)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           round(max(mu), 2) AS mean_daily,
           CAST(count(*) FILTER (WHERE alert) AS BIGINT) AS alert_days,
           CAST(count(*) FILTER (WHERE alert AND NOT prev) AS BIGINT)
             AS n_episodes,
           min(day) FILTER (WHERE alert AND NOT prev) AS first_alert_day
    FROM t GROUP BY event_type
    """,
)
def alert_hysteresis_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold alerting WITH HYSTERESIS over the daily per-type event
    counts: the alert latches ON above 1.2× the type's mean daily volume
    and releases only below 0.9× — the two-threshold state machine that
    kills flapping (a plain single-threshold rule re-fires every
    boundary-straddling day). The sequential recurrence state_t =
    f(state_{t−1}) is reshaped into a CLOSED FORM: forced = on/off/null
    per day, then last_value(IGNORE NULLS) forward-fill — so it runs as
    ordinary windows (no driver loop, no UDF); episodes are off→on edges
    via lag. The metric is an integer count and the thresholds derive
    from exact integer sums, so threshold comparisons are bit-identical
    across engines. All four windows + the final agg share ONE
    (event_type) partitioning over the days-sized summary."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    pt = W.partitionBy("event_type")
    po = pt.orderBy("day")
    m = d.withColumn("mu", F.avg("cnt").over(pt))
    f = m.withColumn(
        "forced",
        F.when(F.col("cnt") > F.lit(1.2) * F.col("mu"), F.lit(True)).when(
            F.col("cnt") < F.lit(0.9) * F.col("mu"), F.lit(False)
        ),
    )
    s = f.withColumn(
        "alert",
        F.coalesce(
            F.last("forced", ignorenulls=True).over(
                po.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
            F.lit(False),
        ),
    )
    t = s.withColumn(
        "prev", F.coalesce(F.lag("alert").over(po), F.lit(False))
    )
    start = F.col("alert") & ~F.col("prev")
    return t.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(F.max("mu"), 2).alias("mean_daily"),
        F.count(F.when(F.col("alert"), 1)).cast("long").alias("alert_days"),
        F.count(F.when(start, 1)).cast("long").alias("n_episodes"),
        F.min(F.when(start, F.col("day"))).alias("first_alert_day"),
    )


@register(
    "dedup_keep_best_quality",
    """
    WITH q AS (
      SELECT doc_id, source, md5(text) AS h,
             least(1.0, len(list_filter(string_split(text, ' '),
                                        x -> x <> '')) / 100.0)
               * (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                  / greatest(length(text), 1)) AS q_score
      FROM documents),
    r AS (SELECT *,
                 CAST(row_number() OVER (
                   PARTITION BY h ORDER BY q_score DESC, doc_id) AS BIGINT)
                   AS rn,
                 CAST(count(*) OVER (PARTITION BY h) AS BIGINT) AS group_size
          FROM q)
    SELECT doc_id, source, group_size, q_score
    FROM r WHERE rn = 1
    """,
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup that keeps the HIGHEST-QUALITY copy per content hash
    (ties → lowest doc_id) instead of `dedup_exact_documents`' min-id
    survivor — the curation-grade policy: when a document recurs across
    sources, keep the cleanest capture. Quality is the house heuristic
    (`functions/text.quality_score`, JVM column exprs); one md5-keyed
    shuffle serves both the rank and the group-size window; the rn=1
    filter prunes map-side via WindowGroupLimit exactly like
    dedup_segments_exact."""
    from windflow_spark.functions.text import quality_score

    docs = _t(spark, sf_dir, "documents")
    q = quality_score(docs).select(
        "doc_id", "source", F.md5("text").alias("h"), "q_score"
    )
    wh = W.partitionBy("h")
    r = q.withColumn(
        "rn",
        F.row_number()
        .over(wh.orderBy(F.desc("q_score"), F.asc("doc_id")))
        .cast("long"),
    ).withColumn("group_size", F.count(F.lit(1)).over(wh).cast("long"))
    return r.filter(F.col("rn") == 1).select(
        # q_score stays UNROUNDED: per-row IEEE arithmetic is bit-identical
        # across engines; rounding a .xxx5-adjacent ratio is not (HALF_UP
        # vs float-round — the house per-row rule)
        "doc_id", "source", "group_size", "q_score"
    )


@register(
    "breusch_pagan_price_quantity",
    """
    WITH c AS (
      SELECT regr_slope(l_extendedprice, l_quantity) AS b,
             regr_intercept(l_extendedprice, l_quantity) AS a
      FROM lineitem),
    e AS (SELECT l.l_quantity AS x,
                 l.l_extendedprice - (c.a + c.b * l.l_quantity) AS resid
          FROM lineitem l CROSS JOIN c)
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(max((SELECT b FROM c)), 6) AS slope,
           round(max((SELECT a FROM c)), 2) AS intercept,
           round(regr_r2(resid * resid, x), 6) AS r2_aux,
           round(count(*) * regr_r2(resid * resid, x), 2) AS lm_stat
    FROM e
    """,
)
def breusch_pagan_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch–Pagan heteroscedasticity test on the price~quantity
    regression: LM = n·R² of the squared-residuals-on-x auxiliary
    regression (χ²₁ under homoscedasticity — TPC-H prices are
    quantity×unit-price, so variance GROWS with quantity and the test
    should fire). Two aggregation passes: the closed-form OLS coefficients
    (one row, broadcast back onto the facts — allowlisted one-row BNLJ,
    the `scalar_battery` shape) and the auxiliary regr_r2. LM is rounded
    at 2dp: the n× amplification of co-moment summation-order ulps
    (~n·1e-10) stays far below that."""
    li = _t(spark, sf_dir, "lineitem")
    c = li.agg(
        F.regr_slope("l_extendedprice", "l_quantity").alias("b"),
        F.regr_intercept("l_extendedprice", "l_quantity").alias("a"),
    )
    e = li.crossJoin(F.broadcast(c)).select(
        F.col("l_quantity").alias("x"),
        (F.col("l_extendedprice") - (F.col("a") + F.col("b") * F.col("l_quantity"))).alias(
            "resid"
        ),
        "a",
        "b",
    )
    r2 = F.regr_r2(F.col("resid") * F.col("resid"), F.col("x"))
    return e.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.max("b"), 6).alias("slope"),
        F.round(F.max("a"), 2).alias("intercept"),
        F.round(r2, 6).alias("r2_aux"),
        F.round(F.count(F.lit(1)) * r2, 2).alias("lm_stat"),
    )


@register(
    "user_predictability_entropy",
    """
    WITH p AS (
      SELECT user_id, event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events),
    c AS (SELECT user_id, cur, nxt, CAST(count(*) AS BIGINT) AS cnt
          FROM p WHERE nxt IS NOT NULL GROUP BY 1, 2, 3),
    w AS (SELECT *,
                 sum(cnt) OVER (PARTITION BY user_id, cur) AS n_cur,
                 sum(cnt) OVER (PARTITION BY user_id) AS n_tot
          FROM c),
    u AS (SELECT user_id,
                 -sum((cnt / CAST(n_tot AS DOUBLE))
                      * log2(cnt / CAST(n_cur AS DOUBLE))) AS h
          FROM w GROUP BY user_id)
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           round(avg(h), 6) AS mean_entropy,
           round(quantile_cont(h, CAST(0.5 AS DOUBLE)), 6) AS median_entropy,
           round(max(h), 6) AS max_entropy
    FROM u
    """,
)
def user_predictability_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral predictability: each user's first-order conditional
    entropy rate H(next|current) = -Σ (n_ct/N) log2(n_ct/n_c) over their
    event-type transitions — 0 bits = fully scripted sessions (bots),
    log2(T) = uniform randomness; the per-user companion to the corpus
    `markov_event_transitions` matrix. One (user) ordering window makes
    the transition pairs, one reduced (user,cur,nxt) count, two window
    sums over that reduced frame, then per-user and global aggregation —
    fact scale touches only the first two shapes. Spark `percentile` ≡
    DuckDB `quantile_cont` bit-exact (house rule); entropies are short
    exact-ratio log2 sums, 6dp-rounded."""
    ev = _t(spark, sf_dir, "events")
    p = ev.select(
        "user_id",
        F.col("event_type").alias("cur"),
        F.lead("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    c = p.groupBy("user_id", "cur", "nxt").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w = c.withColumn(
        "n_cur", F.sum("cnt").over(W.partitionBy("user_id", "cur"))
    ).withColumn("n_tot", F.sum("cnt").over(W.partitionBy("user_id")))
    u = w.groupBy("user_id").agg(
        (
            -F.sum(
                (F.col("cnt") / F.col("n_tot").cast("double"))
                * F.log2(F.col("cnt") / F.col("n_cur").cast("double"))
            )
        ).alias("h")
    )
    return u.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.round(F.avg("h"), 6).alias("mean_entropy"),
        F.round(F.expr("percentile(h, 0.5)"), 6).alias("median_entropy"),
        F.round(F.max("h"), 6).alias("max_entropy"),
    )


@register(
    "bpe_pair_stats",
    """
    WITH w AS (
      SELECT tok AS word, CAST(count(*) AS BIGINT) AS wcnt
      FROM documents,
           unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS u(tok)
      GROUP BY tok),
    p AS (
      SELECT pr AS pair, CAST(sum(wcnt) AS BIGINT) AS cnt
      FROM w, unnest([substr(word, i, 2)
                      for i in range(1, length(word))]) AS v(pr)
      WHERE length(word) >= 2
      GROUP BY pr),
    r AS (SELECT pair, cnt,
                 CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS BIGINT)
                   AS rk
          FROM p)
    SELECT pair, cnt, rk FROM r WHERE rk <= 30
    """,
)
def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE merge iteration of tokenizer training: corpus-weighted
    adjacent character-pair counts, top 30 — the candidate merge table a
    byte-pair-encoding trainer consumes. The corpus collapses ONCE to the
    (word, count) vocabulary; pair extraction then explodes only the
    vocab-sized frame (each word contributes len−1 bigrams × its corpus
    count via sum(wcnt), so corpus scale never re-enters); the top-30 is a
    distributed TakeOrdered. Counts are exact integers — no float
    tolerance anywhere."""
    docs = _t(spark, sf_dir, "documents")
    w = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("wcnt"))
    )
    pairs = (
        w.filter(F.length("word") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("word") - 1),
                    lambda i: F.col("word").substr(i, F.lit(2)),
                )
            ).alias("pair"),
            "wcnt",
        )
        .groupBy("pair")
        .agg(F.sum("wcnt").cast("long").alias("cnt"))
    )
    top = pairs.orderBy(F.desc("cnt"), F.asc("pair")).limit(30)
    return top.withColumn(
        "rk",
        F.row_number()
        .over(W.orderBy(F.desc("cnt"), F.asc("pair")))
        .cast("long"),
    )


@register(
    "pii_density_by_source",
    """
    WITH d AS (
      SELECT source,
             len(regexp_extract_all(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS emails,
             len(regexp_extract_all(text,
                 '\\+?[0-9][0-9() -]{7,}[0-9]')) AS phones,
             len(regexp_extract_all(text,
                 '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) AS ips
      FROM documents)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(emails) AS BIGINT) AS n_emails,
           CAST(sum(phones) AS BIGINT) AS n_phones,
           CAST(sum(ips) AS BIGINT) AS n_ips,
           CAST(count(*) FILTER (WHERE emails + phones + ips > 0) AS BIGINT)
             AS docs_with_pii,
           round((sum(emails) + sum(phones) + sum(ips))
                 / CAST(count(*) AS DOUBLE), 4) AS pii_per_doc
    FROM d GROUP BY source
    """,
)
def pii_density_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-density audit per source — the governance readout that decides
    which sources need scrubbing before training (the counting companion
    to `text_redact_pii`, which masks): per-type match counts using the
    SAME shared patterns (`functions/text.PII_PATTERNS` — plain character
    classes, identical in Java regex and RE2), docs-affected, and
    PII-per-doc rate. Pure JVM regexp_count columns + one source-keyed
    aggregation; no Python in the hot path."""
    from windflow_spark.functions.text import PII_PATTERNS

    docs = _t(spark, sf_dir, "documents")
    (em, _), (ph, _), (ip, _) = PII_PATTERNS
    d = docs.select(
        "source",
        F.regexp_count("text", F.lit(em)).alias("emails"),
        F.regexp_count("text", F.lit(ph)).alias("phones"),
        F.regexp_count("text", F.lit(ip)).alias("ips"),
    )
    tot = F.sum("emails") + F.sum("phones") + F.sum("ips")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("emails").cast("long").alias("n_emails"),
        F.sum("phones").cast("long").alias("n_phones"),
        F.sum("ips").cast("long").alias("n_ips"),
        F.count(
            F.when(F.col("emails") + F.col("phones") + F.col("ips") > 0, 1)
        )
        .cast("long")
        .alias("docs_with_pii"),
        F.round(tot / F.count(F.lit(1)).cast("double"), 4).alias(
            "pii_per_doc"
        ),
    )


@register(
    "mix_sources_temperature",
    """
    WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_total
               FROM documents GROUP BY source),
    m AS (SELECT source, n_total,
                 CAST(floor(sqrt(CAST(n_total AS DOUBLE))) AS BIGINT) AS w
          FROM c),
    s AS (SELECT *, sum(w) OVER () AS sw FROM m)
    SELECT d.source, s.n_total, s.w AS weight,
           CAST(sum(CASE WHEN ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))
                              ::UBIGINT % 1000000 * s.sw * s.n_total
                         < 20000 * s.w * 1000000
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
    FROM documents d JOIN s USING (source)
    GROUP BY d.source, s.n_total, s.w
    """,
)
def mix_sources_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source mixing (α = 0.5, budget 20k docs): each
    source is sampled at rate budget·w_s/(Σw·n_s) with w_s = ⌊√n_s⌋ — the
    up-weight-the-tail mix used for multilingual/multi-domain training
    (T5's α-smoothed sampling), sitting between proportional (α=1) and
    `mix_sources_balanced` (α=0). ⌊√n⌋ makes the weight an exact INTEGER
    on both engines (IEEE sqrt is correctly rounded, so floor∘sqrt of a
    BIGINT is engine-portable), and the membership test cross-multiplies
    to pure BIGINT arithmetic — hash·Σw·n_s < budget·w_s·10⁶ — so no
    float rate ever decides a row. Selection is content-hash ordered
    (md5), reproducible under any partitioning."""
    docs = _t(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_total")
    )
    m = c.withColumn(
        "w",
        F.floor(F.sqrt(F.col("n_total").cast("double"))).cast("long"),
    )
    s = m.withColumn("sw", F.sum("w").over(W.partitionBy()))
    h = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 1000000
    )
    j = docs.join(F.broadcast(s), "source")
    return j.groupBy("source", "n_total", F.col("w").alias("weight")).agg(
        F.sum(
            F.when(
                h * F.col("sw") * F.col("n_total")
                < F.lit(20000) * F.col("w") * F.lit(1000000),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_sampled")
    )


@register(
    "cross_source_duplication",
    """
    WITH d AS (
      SELECT doc_id, source,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents),
    s AS (
      SELECT DISTINCT source,
             md5(array_to_string(toks[i + 1 : i + 8], ' ')) AS h
      FROM d, unnest(generate_series(0, len(toks) - 1, 8)) AS u(i)
      WHERE len(toks) >= 1),
    p AS (SELECT a.source AS source_a, b.source AS source_b,
                 CAST(count(*) AS BIGINT) AS n_shared_segments
          FROM s a JOIN s b ON a.h = b.h AND a.source < b.source
          GROUP BY 1, 2)
    SELECT source_a, source_b, n_shared_segments FROM p
    """,
)
def cross_source_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix at SEGMENT granularity: for each
    source pair, how many distinct 8-token blocks (the exact
    `dedup_segments_exact` stride-8 convention) appear in BOTH — the
    audit that tells you which crawls mirror each other's boilerplate
    before you pick dedup survivors. Whole-document md5 sharing is
    near-zero on real multi-source corpora (and empty on this one);
    segment sharing is where contamination actually shows. The corpus
    reduces ONCE to a distinct (segment-md5, source) frame; the pair
    count is a hash-keyed equi-self-join of that reduced frame (per-hash
    fan-out ≤ S², S = #sources — never |docs|²)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    d = docs.select("source", toks.alias("toks")).filter(
        F.size("toks") >= 1
    )
    segs = d.select(
        "source",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0), F.size("toks") - 1, F.lit(8)
                ),
                lambda i: F.md5(
                    F.array_join(F.slice(F.col("toks"), i + 1, 8), " ")
                ),
            )
        ).alias("h"),
    ).distinct()
    a = segs.select("h", F.col("source").alias("source_a"))
    b = segs.select("h", F.col("source").alias("source_b"))
    return (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_segments"))
    )


@register(
    "debounce_events_5s",
    """
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts, event_id) AS gap
      FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_raw,
           CAST(count(*) FILTER (WHERE gap IS NULL OR gap > 5000000)
                AS BIGINT) AS n_kept,
           round(1.0 - count(*) FILTER (WHERE gap IS NULL OR gap > 5000000)
                 / CAST(count(*) AS DOUBLE), 4) AS drop_rate
    FROM g GROUP BY event_type
    """,
)
def debounce_events_5s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry debounce: within each (user, event-type) stream, keep only
    the event that OPENS a burst — an event survives iff it is ≥5 s after
    the previous raw event of that key (gaps-and-islands with a 5 s gap;
    the survivor count is just Σ island-opening flags, so no island ids
    are ever materialized). The double-fire / retry-storm suppressor that
    runs before sessionization in real telemetry pipelines. ONE
    (user, type) ordering window over the facts + a per-type rollup;
    the gap test is exact integer µs."""
    from windflow_spark.operators.timeutil import event_micros

    ev = _t(spark, sf_dir, "events")
    us = event_micros(ev, "ts")
    gap = us - F.lag(us).over(
        W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    )
    g = ev.select("event_type", gap.alias("gap"))
    keep = F.col("gap").isNull() | (F.col("gap") > 5_000_000)
    return g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_raw"),
        F.count(F.when(keep, 1)).cast("long").alias("n_kept"),
        F.round(
            F.lit(1.0)
            - F.count(F.when(keep, 1)) / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("drop_rate"),
    )


@register(
    "ab_test_cuped",
    """
    WITH u AS (
      SELECT user_id,
             ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::UBIGINT % 2 AS g,
             avg(value) FILTER (WHERE ts < TIMESTAMP '2024-01-16') AS pre,
             avg(value) FILTER (WHERE ts >= TIMESTAMP '2024-01-16') AS post
      FROM events GROUP BY user_id),
    b AS (SELECT * FROM u WHERE pre IS NOT NULL AND post IS NOT NULL),
    s AS (SELECT
            covar_samp(pre, post) / var_samp(pre) AS theta,
            CAST(count(*) FILTER (WHERE g = 0) AS BIGINT) AS n_a,
            CAST(count(*) FILTER (WHERE g = 1) AS BIGINT) AS n_b,
            avg(post) FILTER (WHERE g = 0) AS post_a,
            avg(post) FILTER (WHERE g = 1) AS post_b,
            avg(pre) FILTER (WHERE g = 0) AS pre_a,
            avg(pre) FILTER (WHERE g = 1) AS pre_b,
            var_samp(post) AS var_post,
            var_samp(pre) AS var_pre,
            covar_samp(pre, post) AS cov_pp
          FROM b)
    SELECT n_a, n_b, round(theta, 6) AS theta,
           round(post_b - post_a, 6) AS diff_raw,
           round((post_b - post_a) - theta * (pre_b - pre_a), 6)
             AS diff_cuped,
           round(1.0 - (var_post + theta * theta * var_pre
                        - 2 * theta * cov_pp) / var_post, 4)
             AS var_reduction_pct
    FROM s
    """,
)
def ab_test_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al. 2013): each user's
    post-period metric is adjusted by θ·(pre-period metric), θ =
    cov(pre,post)/var(pre), shrinking variance by exactly the squared
    pre/post correlation — the standard trick that makes small lifts
    detectable without more traffic. Assignment is the house md5 hash
    (deterministic, matching `ab_test_welch`); the experiment cut is
    mid-month. Both the adjusted diff and the variance reduction are
    derived ALGEBRAICALLY from one moment pass (var_adj = var_post +
    θ²var_pre − 2θcov), so no row-level adjusted column — and therefore
    no scalar broadcast-back — is ever materialized: one user-keyed
    reduction plus one global aggregate."""
    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp_ntz")
    u = ev.groupBy("user_id").agg(
        (
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
            .cast("long")
            % 2
        ).alias("g"),
        F.avg(F.when(F.col("ts") < cut, F.col("value"))).alias("pre"),
        F.avg(F.when(F.col("ts") >= cut, F.col("value"))).alias("post"),
    )
    b = u.filter(F.col("pre").isNotNull() & F.col("post").isNotNull())
    def _ga(g, c):
        return F.avg(F.when(F.col("g") == g, F.col(c)))
    s = b.agg(
        (F.covar_samp("pre", "post") / F.var_samp("pre")).alias("theta"),
        F.count(F.when(F.col("g") == 0, 1)).cast("long").alias("n_a"),
        F.count(F.when(F.col("g") == 1, 1)).cast("long").alias("n_b"),
        _ga(0, "post").alias("post_a"),
        _ga(1, "post").alias("post_b"),
        _ga(0, "pre").alias("pre_a"),
        _ga(1, "pre").alias("pre_b"),
        F.var_samp("post").alias("var_post"),
        F.var_samp("pre").alias("var_pre"),
        F.covar_samp("pre", "post").alias("cov_pp"),
    )
    return s.select(
        "n_a",
        "n_b",
        F.round("theta", 6).alias("theta"),
        F.round(F.col("post_b") - F.col("post_a"), 6).alias("diff_raw"),
        F.round(
            (F.col("post_b") - F.col("post_a"))
            - F.col("theta") * (F.col("pre_b") - F.col("pre_a")),
            6,
        ).alias("diff_cuped"),
        F.round(
            F.lit(1.0)
            - (
                F.col("var_post")
                + F.col("theta") * F.col("theta") * F.col("var_pre")
                - F.lit(2.0) * F.col("theta") * F.col("cov_pp")
            )
            / F.col("var_post"),
            4,
        ).alias("var_reduction_pct"),
    )


@register(
    "ship_latency_percentiles",
    """
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           quantile_cont(date_diff('day', o.o_orderdate, l.l_shipdate),
                         CAST(0.5 AS DOUBLE)) AS p50_days,
           quantile_cont(date_diff('day', o.o_orderdate, l.l_shipdate),
                         CAST(0.9 AS DOUBLE)) AS p90_days,
           quantile_cont(date_diff('day', o.o_orderdate, l.l_shipdate),
                         CAST(0.99 AS DOUBLE)) AS p99_days,
           CAST(max(date_diff('day', o.o_orderdate, l.l_shipdate)) AS BIGINT)
             AS max_days
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def ship_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship latency SLA per order priority: the p50/p90/p99 tail of
    days-to-ship — the operational percentile readout (does URGENT
    actually ship faster, and how bad is the p99?). One fact⋈fact
    equi-join on orderkey + one priority-keyed exact-percentile pass;
    latency is an exact integer day difference, and Spark `percentile` ≡
    DuckDB `quantile_cont` bit-exact (house rule)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    lat = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority", lat.alias("lat")
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.expr("percentile(lat, 0.5)").alias("p50_days"),
        F.expr("percentile(lat, 0.9)").alias("p90_days"),
        F.expr("percentile(lat, 0.99)").alias("p99_days"),
        F.max("lat").cast("long").alias("max_days"),
    )


@register(
    "discount_elasticity_brand",
    """
    SELECT p.p_brand,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(regr_slope(ln(CAST(l.l_quantity AS DOUBLE)),
                            ln(1.0 - l.l_discount)), 6) AS elasticity,
           round(regr_r2(ln(CAST(l.l_quantity AS DOUBLE)),
                         ln(1.0 - l.l_discount)), 6) AS r2
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_discount < 1.0
    GROUP BY p.p_brand
    """,
)
def discount_elasticity_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand discount elasticity of demand: the log-log OLS slope of
    quantity on effective price multiplier (1 − discount) — elasticity < 0
    means discounts move volume for that brand; r² says whether the
    relationship is real or noise (on this synthetic feed it should be
    ≈0 — a correct null result the oracle verifies exactly). One
    fact⋈dim equi-join + one brand-keyed co-moment pass; `1.0 − discount`
    is computed identically on both engines (never a pre-rounded
    literal, the house damping rule)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_discount") < 1.0)
    p = _t(spark, sf_dir, "part")
    y = F.log(F.col("l_quantity").cast("double"))
    x = F.log(F.lit(1.0) - F.col("l_discount"))
    j = li.join(p, li.l_partkey == p.p_partkey).select(
        "p_brand", y.alias("y"), x.alias("x")
    )
    return j.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.round(F.regr_slope("y", "x"), 6).alias("elasticity"),
        F.round(F.regr_r2("y", "x"), 6).alias("r2"),
    )


@register(
    "time_decay_attribution",
    """
    WITH conv AS (
      SELECT user_id, event_id AS conv_id, epoch_us(ts) AS cus
      FROM events WHERE event_type = 'purchase'),
    touch AS (
      SELECT user_id, event_type, epoch_us(ts) AS tus
      FROM events WHERE event_type IN ('view', 'click')),
    pair AS (
      SELECT c.conv_id, t.event_type,
             pow(CAST(0.5 AS DOUBLE),
                 (c.cus - t.tus) / CAST(86400000000 AS DOUBLE)) AS w
      FROM conv c JOIN touch t
        ON t.user_id = c.user_id
       AND t.tus <= c.cus AND c.cus - t.tus <= 604800000000),
    sh AS (SELECT event_type,
                  w / sum(w) OVER (PARTITION BY conv_id) AS share
           FROM pair)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_touch_pairs,
           round(sum(share), 6) AS credit,
           round(avg(share), 6) AS avg_share
    FROM sh GROUP BY event_type
    """,
)
def time_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution: every view/click in the 7 days
    before a purchase earns credit 0.5^(Δt/1 day), normalized per
    conversion so each purchase distributes exactly 1.0 — the
    exponential-decay middle ground between `attribution_last_touch`
    (all-or-nothing) and linear touch models. The touch⋈conversion match
    is a USER-keyed equi-join with a residual time-range predicate (the
    interval-join KP shape — per-user fan-out is bounded by activity²,
    and the key carries the parallelism; the bucketed interval join is
    the designated escape hatch for pathological single users);
    normalization is one window over the pair frame keyed by conversion.
    Credits are 6dp-rounded sums (pow is ≤1-ulp on both engines)."""
    from windflow_spark.operators.timeutil import event_micros

    ev = _t(spark, sf_dir, "events")
    us = event_micros(ev, "ts")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("conv_id"), us.alias("cus")
    )
    touch = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id", "event_type", us.alias("tus")
    )
    pair = conv.join(touch, "user_id").filter(
        (F.col("tus") <= F.col("cus"))
        & (F.col("cus") - F.col("tus") <= F.lit(604_800_000_000))
    )
    w = F.pow(
        F.lit(0.5), (F.col("cus") - F.col("tus")) / F.lit(86_400_000_000.0)
    )
    sh = pair.select(
        "event_type",
        (w / F.sum(w).over(W.partitionBy("conv_id"))).alias("share"),
    )
    return sh.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_touch_pairs"),
        F.round(F.sum("share"), 6).alias("credit"),
        F.round(F.avg("share"), 6).alias("avg_share"),
    )


@register(
    "weighted_median_binned",
    """
    WITH r AS (
      SELECT l_returnflag, l_extendedprice,
             CAST(l_quantity AS BIGINT) AS w,
             sum(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING) AS cumw,
             sum(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag) AS totw
      FROM lineitem)
    SELECT l_returnflag,
           CAST(max(totw) AS BIGINT) AS total_weight,
           min(l_extendedprice) FILTER (WHERE 2 * cumw >= totw)
             AS weighted_median
    FROM r GROUP BY l_returnflag
    """,
)
def weighted_median_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted median via two-pass binning — the scale path for
    `weighted_median_price`, whose single-window form is parallelism-bound
    by the group count (3 return flags ⇒ 3 sort tasks, measured 6.5× at
    the 10× probe). Pass 1 bins every row into 256 per-group buckets (a
    (flag, bin) AGGREGATION — parallelism 3×256, no row sort anywhere);
    the 256-row-per-group summary locates the boundary bin and its
    cumulative-weight offset. Pass 2 sorts ONLY the boundary bin's rows
    (~1/256 of the group) with the offset carried in. Binning partitions
    the price order (monotone map), weights are exact BIGINTs, and the
    boundary test is integer arithmetic — so the result is IDENTICAL to
    the naive full-sort form, which is exactly what the oracle runs. The
    two-phase shape is the same trick as `skew_salted_agg`: trade one
    extra reduced-frame pass for unbounded parallelism."""
    li = _t(spark, sf_dir, "lineitem")
    wq = F.col("l_quantity").cast("long")
    # per-group price range (3-row frame, broadcast back onto the facts)
    rng = li.groupBy("l_returnflag").agg(
        F.min("l_extendedprice").alias("pmin"),
        F.max("l_extendedprice").alias("pmax"),
    )
    binned = li.join(F.broadcast(rng), "l_returnflag").select(
        "l_returnflag",
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
        wq.alias("w"),
        F.least(
            F.lit(255),
            F.floor(
                (F.col("l_extendedprice") - F.col("pmin"))
                / (F.col("pmax") - F.col("pmin"))
                * 256
            ).cast("int"),
        ).alias("bin"),
    )
    # pass 1: (flag, bin) weight histogram -> boundary bin + offset + total
    hist = binned.groupBy("l_returnflag", "bin").agg(
        F.sum("w").alias("bw")
    )
    wb = W.partitionBy("l_returnflag").orderBy("bin")
    cum = hist.withColumn(
        "cum", F.sum("bw").over(wb.rowsBetween(W.unboundedPreceding, W.currentRow))
    ).withColumn("tot", F.sum("bw").over(W.partitionBy("l_returnflag")))
    boundary = (
        cum.filter(2 * F.col("cum") >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(
            F.min("bin").alias("bbin"),
            F.max("tot").cast("long").alias("total_weight"),
        )
        .join(
            cum.select(
                "l_returnflag",
                F.col("bin").alias("bbin"),
                (F.col("cum") - F.col("bw")).alias("offset"),
            ),
            ["l_returnflag", "bbin"],
        )
        .select(
            F.col("l_returnflag").alias("bflag"),
            "bbin",
            "offset",
            "total_weight",
        )
    )
    # pass 2: exact order within the boundary bin only, offset carried in
    inbin = binned.join(
        F.broadcast(boundary),
        (F.col("l_returnflag") == F.col("bflag"))
        & (F.col("bin") == F.col("bbin")),
    ).select(
        F.col("l_returnflag").alias("flag"),
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
        "w",
        "offset",
        "total_weight",
    )
    w2 = (
        W.partitionBy("flag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    scored = inbin.withColumn("cum2", F.col("offset") + F.sum("w").over(w2))
    return (
        scored.filter(2 * F.col("cum2") >= F.col("total_weight"))
        .groupBy(F.col("flag").alias("l_returnflag"))
        .agg(
            F.max("total_weight").cast("long").alias("total_weight"),
            F.min("l_extendedprice").alias("weighted_median"),
        )
    )


def _one_way_anova(g: DataFrame) -> DataFrame:
    """One-way ANOVA fold shared by `anova_f_segments` and
    `levene_bf_segments`: from the per-group moments ``g`` (n, m = mean,
    v = sample variance), one row (k, n_total, ssb, ssw) — group count,
    total count, between- and within-group sums of squares. The grand
    mean and both sums are algebra over the group-sized frame, never a
    second fact pass."""
    t = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_total"),
        (F.sum(F.col("n") * F.col("m")) / F.sum("n")).alias("gm"),
        F.sum(F.col("v") * (F.col("n") - 1)).alias("ssw"),
    )
    return (
        g.crossJoin(F.broadcast(t))
        .groupBy("k", "n_total")
        .agg(
            F.sum(
                F.col("n") * (F.col("m") - F.col("gm")) * (F.col("m") - F.col("gm"))
            ).alias("ssb"),
            F.max("ssw").alias("ssw"),
        )
    )


@register(
    "anova_f_segments",
    """
    WITH g AS (
      SELECT c.c_mktsegment AS seg,
             CAST(count(*) AS BIGINT) AS n,
             avg(o.o_totalprice) AS m,
             var_samp(o.o_totalprice) AS v
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1),
    t AS (SELECT CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(n) AS BIGINT) AS n_total,
                 sum(n * m) / sum(n) AS gm,
                 sum(v * (n - 1)) AS ssw
          FROM g),
    b AS (SELECT t.k, t.n_total,
                 sum(g.n * (g.m - t.gm) * (g.m - t.gm)) AS ssb,
                 max(t.ssw) AS ssw
          FROM g CROSS JOIN t GROUP BY t.k, t.n_total)
    SELECT k, n_total,
           CAST(k - 1 AS BIGINT) AS df_between,
           CAST(n_total - k AS BIGINT) AS df_within,
           round((ssb / (k - 1)) / (ssw / (n_total - k)), 4) AS f_stat,
           round(ssb / (ssb + ssw), 6) AS eta_squared
    FROM b
    """,
)
def anova_f_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across market segments on order value: F =
    between-group MS / within-group MS, with η² effect size — the k-group
    generalization of `ab_test_welch` (on this synthetic feed segments
    don't differ, so F ≈ 1 and η² ≈ 0: a verified null). Everything
    derives from ONE per-segment moment pass (n, mean, variance): the
    grand mean and both sums of squares are `_one_way_anova` algebra over
    the 5-row summary — no second fact scan, no row-level residuals."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    g = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.avg("o_totalprice").alias("m"),
            F.var_samp("o_totalprice").alias("v"),
        )
    )
    b = _one_way_anova(g)
    return b.select(
        "k",
        "n_total",
        (F.col("k") - 1).cast("long").alias("df_between"),
        (F.col("n_total") - F.col("k")).cast("long").alias("df_within"),
        F.round(
            (F.col("ssb") / (F.col("k") - 1))
            / (F.col("ssw") / (F.col("n_total") - F.col("k"))),
            4,
        ).alias("f_stat"),
        F.round(F.col("ssb") / (F.col("ssb") + F.col("ssw")), 6).alias(
            "eta_squared"
        ),
    )


@register(
    "sim_matryoshka_recall",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    qs AS (SELECT vec_id AS query_id, v AS qev FROM e WHERE vec_id < 10),
    bf_s AS (
      SELECT qs.query_id, e.vec_id,
             round(list_cosine_similarity(qev, v), 6) AS cs
      FROM e JOIN qs ON e.vec_id <> qs.query_id),
    bf AS (SELECT query_id, vec_id FROM (
             SELECT query_id, vec_id,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY cs DESC, vec_id) AS rk
             FROM bf_s) WHERE rk <= 5),
    m AS (SELECT vec_id, v[1:16] AS mv FROM e),
    zq AS (SELECT vec_id AS query_id, mv AS qmv FROM m WHERE vec_id < 10),
    ap_s AS (
      SELECT zq.query_id, m.vec_id,
             round(list_cosine_similarity(qmv, mv), 6) AS cs
      FROM m JOIN zq ON m.vec_id <> zq.query_id),
    ap AS (SELECT query_id, vec_id FROM (
             SELECT query_id, vec_id,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY cs DESC, vec_id) AS rk
             FROM ap_s) WHERE rk <= 5),
    h AS (SELECT bf.query_id, count(*) AS n_hits
          FROM bf JOIN ap ON bf.query_id = ap.query_id
                         AND bf.vec_id = ap.vec_id
          GROUP BY bf.query_id),
    nn AS (SELECT query_id, count(*) AS n_exact FROM bf GROUP BY query_id)
    SELECT nn.query_id, coalesce(n_hits, 0)::BIGINT AS n_hits,
           coalesce(n_hits, 0)::DOUBLE / n_exact AS recall
    FROM nn LEFT JOIN h USING (query_id)
    """,
)
def sim_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) truncation tradeoff: recall@5 of brute-force
    cosine over the FIRST 16 of 64 embedding dimensions against the exact
    full-dimension top-5 — the measurement behind the
    coarse-search-on-prefix / rerank-on-full-vector serving pattern
    (4× less bandwidth and memory in the hot path; these synthetic
    embeddings are not MRL-trained, so the recall readout is the honest
    baseline a trained model would beat). Same k×Q-bounded comparison
    frames as `sim_quantized_recall`; prefix slicing is exact on both
    engines."""
    from windflow_spark.functions.similarity import (
        as_double_array,
        brute_force_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    m = emb.select(
        "vec_id",
        F.slice(as_double_array("embedding"), 1, 16).alias("embedding"),
    )
    zq = m.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ap = brute_force_topk(m, zq, k=5).select("query_id", "vec_id")
    bf = sim_topk_bruteforce(spark, sf_dir).select("query_id", "vec_id")
    return _recall_fold(bf, ap)


@register(
    "dft_hourly_seasonality",
    """
    WITH h AS (
      SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS th,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n_hours,
                 avg(cnt) AS mu,
                 sum(cnt * cos(2 * pi() * (th % 24) / 24.0)) AS a24,
                 sum(cnt * sin(2 * pi() * (th % 24) / 24.0)) AS b24,
                 sum(cnt * cos(2 * pi() * (th % 12) / 12.0)) AS a12,
                 sum(cnt * sin(2 * pi() * (th % 12) / 12.0)) AS b12,
                 sum(cnt * cos(2 * pi() * (th % 8) / 8.0)) AS a8,
                 sum(cnt * sin(2 * pi() * (th % 8) / 8.0)) AS b8
          FROM h)
    SELECT n_hours, round(mu, 2) AS mean_hourly,
           round(2 * sqrt(a24 * a24 + b24 * b24) / n_hours, 4) AS amp_24h,
           round(2 * sqrt(a12 * a12 + b12 * b12) / n_hours, 4) AS amp_12h,
           round(2 * sqrt(a8 * a8 + b8 * b8) / n_hours, 4) AS amp_8h
    FROM s
    """,
)
def dft_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral seasonality detection: single-frequency DFT (harmonic
    regression) of the hourly event-count series at the 24 h / 12 h / 8 h
    periods — amplitude ≫ 0 at 24 h means a diurnal cycle the
    day-of-week decomposition (`ts_seasonal_dow`) can't see. One hourly
    aggregation + ONE moment pass computing all six cos/sin projections;
    the harmonic argument is reduced to the INTEGER hour-of-period
    (th % p) before cos/sin — exactly equivalent by periodicity, and it
    keeps both engines' transcendental calls in the small-argument range
    where they agree to the ulp (large-argument reduction is the only
    place libm implementations drift)."""
    from windflow_spark.operators.timeutil import event_micros

    ev = _t(spark, sf_dir, "events")
    th = F.floor(event_micros(ev, "ts") / F.lit(3_600_000_000)).cast("long")
    h = ev.groupBy(th.alias("th")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    def proj(fn, p):
        return F.sum(
            F.col("cnt")
            * fn(F.lit(2.0) * F.lit(3.141592653589793) * (F.col("th") % p) / F.lit(float(p)))
        )
    s = h.agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.avg("cnt").alias("mu"),
        proj(F.cos, 24).alias("a24"),
        proj(F.sin, 24).alias("b24"),
        proj(F.cos, 12).alias("a12"),
        proj(F.sin, 12).alias("b12"),
        proj(F.cos, 8).alias("a8"),
        proj(F.sin, 8).alias("b8"),
    )
    def amp(a, b):
        return F.round(
            2 * F.sqrt(F.col(a) * F.col(a) + F.col(b) * F.col(b)) / F.col("n_hours"), 4
        )
    return s.select(
        "n_hours",
        F.round("mu", 2).alias("mean_hourly"),
        amp("a24", "b24").alias("amp_24h"),
        amp("a12", "b12").alias("amp_12h"),
        amp("a8", "b8").alias("amp_8h"),
    )


def _lang_id_confusion_sql() -> str:
    from windflow_spark.functions.text import lang_id_oracle_sql

    pred = lang_id_oracle_sql("documents", "text")
    return f"""
    WITH p AS ({pred}),
    j AS (SELECT d.lang AS lang_true, p.lang_pred
          FROM documents d JOIN p USING (doc_id)),
    m AS (SELECT lang_true, lang_pred, CAST(count(*) AS BIGINT) AS n
          FROM j GROUP BY 1, 2),
    t AS (SELECT lang_true, sum(n) AS tot FROM m GROUP BY lang_true)
    SELECT m.lang_true, m.lang_pred, m.n,
           round(m.n / CAST(t.tot AS DOUBLE), 4) AS share_of_true
    FROM m JOIN t USING (lang_true)
    """


@register("lang_id_confusion", _lang_id_confusion_sql())
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword lang-id heuristic against the
    corpus's LABELED `lang` column — the honest-eval companion to
    `lang_id_documents` (every classifier shipped in this repo gets its
    accuracy measured, same posture as the sim_*_recall family). Rows are
    (true, predicted, count, share-of-true); the diagonal shares are the
    per-language recalls. One prediction pass (JVM column exprs) + one
    (true, pred) reduction; the per-language totals ride a join over the
    L²-bounded matrix."""
    from windflow_spark.functions.text import lang_id_heuristic

    docs = _t(spark, sf_dir, "documents")
    p = lang_id_heuristic(docs).select(
        F.col("lang").alias("lang_true"), "lang_pred"
    )
    m = p.groupBy("lang_true", "lang_pred").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    t = m.groupBy("lang_true").agg(F.sum("n").alias("tot"))
    return m.join(F.broadcast(t), "lang_true").select(
        "lang_true",
        "lang_pred",
        "n",
        F.round(F.col("n") / F.col("tot").cast("double"), 4).alias(
            "share_of_true"
        ),
    )


@register(
    "quality_filter_kappa",
    """
    WITH d AS (
      SELECT doc_id, text,
             list_filter(string_split(text, ' '), x -> x <> '') AS words
      FROM documents),
    f AS (
      SELECT doc_id,
             CASE WHEN len(words) >= 30 AND len(words) <= 100000
                   AND CAST(list_sum(list_transform(words, w -> length(w)))
                            AS DOUBLE) / len(words) >= CAST(3 AS DOUBLE)
                   AND CAST(list_sum(list_transform(words, w -> length(w)))
                            AS DOUBLE) / len(words) <= CAST(10 AS DOUBLE)
                   AND len(list_intersect(words,
                       ['the','a','of','and','to','in','is','that'])) >= 2
                   AND CAST(len(list_distinct(words)) AS DOUBLE)
                       / len(words) >= CAST(0.4 AS DOUBLE)
              THEN 1 ELSE 0 END AS a,
             least(1.0, len(words) / 100.0)
               * (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                  / greatest(length(text), 1)) AS q
      FROM d),
    m AS (SELECT quantile_cont(q, CAST(0.5 AS DOUBLE)) AS med FROM f),
    t AS (SELECT CASE WHEN f.q > m.med THEN 1 ELSE 0 END AS b, f.a
          FROM f CROSS JOIN m),
    c AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n11,
                 CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n10,
                 CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n01,
                 CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n00
          FROM t)
    SELECT n, n11, n10, n01, n00,
           round((n11 + n00) / CAST(n AS DOUBLE), 4) AS agreement,
           round(((n11 + n00) / CAST(n AS DOUBLE)
                  - ((n11 + n10) * (n11 + n01)
                     + (n01 + n00) * (n10 + n00)) / (CAST(n AS DOUBLE) * n))
                 / (1.0 - ((n11 + n10) * (n11 + n01)
                           + (n01 + n00) * (n10 + n00))
                          / (CAST(n AS DOUBLE) * n)), 4) AS cohens_kappa
    FROM c
    """,
)
def quality_filter_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-filter agreement between the two quality filters this repo
    ships: the Gopher rule battery (all four rules pass) vs the continuous
    q_score above its corpus median — raw agreement plus Cohen's κ, the
    chance-corrected number that says whether the heuristics measure the
    same thing (κ≈0: adding the second filter genuinely changes the kept
    set; κ≈1: it's redundant). Both flags derive from ONE document pass;
    the median threshold is a one-row broadcast (allowlisted BNLJ); the κ
    algebra runs on four exact integer cells and is rounded once."""
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    stop = F.array(
        *[F.lit(w) for w in ["the", "a", "of", "and", "to", "in", "is", "that"]]
    )
    docs = _t(spark, sf_dir, "documents")
    n_tok = F.size("words")
    mean_wl = (
        F.aggregate(
            F.transform("words", lambda w: F.length(w)),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("double")
        / n_tok
    )
    a = (
        (n_tok >= 30)
        & (n_tok <= 100000)
        & (mean_wl >= F.lit(3.0))
        & (mean_wl <= F.lit(10.0))
        & (F.size(F.array_intersect("words", stop)) >= 2)
        & (F.size(F.array_distinct("words")).cast("double") / n_tok >= F.lit(0.4))
    )
    q = F.least(F.lit(1.0), n_tok / F.lit(100.0)) * (
        F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", ""))
        / F.greatest(F.length("text"), F.lit(1))
    )
    f = docs.select(F.col("text"), toks.alias("words")).select(
        F.when(a, 1).otherwise(0).alias("a"), q.alias("q")
    )
    med = f.agg(F.expr("percentile(q, 0.5)").alias("med"))
    t = f.crossJoin(F.broadcast(med)).select(
        "a", F.when(F.col("q") > F.col("med"), 1).otherwise(0).alias("b")
    )
    c = t.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n11"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n10"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n01"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n00"),
    )
    nd = F.col("n").cast("double")
    pe = (
        (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01"))
        + (F.col("n01") + F.col("n00")) * (F.col("n10") + F.col("n00"))
    ) / (nd * F.col("n"))
    po = (F.col("n11") + F.col("n00")) / nd
    return c.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(po, 4).alias("agreement"),
        F.round((po - pe) / (F.lit(1.0) - pe), 4).alias("cohens_kappa"),
    )


@register(
    "trimmed_mean_prices",
    """
    WITH b AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, CAST(0.05 AS DOUBLE)) AS lo,
             quantile_cont(l_extendedprice, CAST(0.95 AS DOUBLE)) AS hi
      FROM lineitem GROUP BY l_returnflag)
    SELECT l.l_returnflag,
           CAST(count(*) AS BIGINT) AS n_all,
           CAST(count(*) FILTER (WHERE l.l_extendedprice >= b.lo
                                   AND l.l_extendedprice <= b.hi) AS BIGINT)
             AS n_kept,
           round(avg(l.l_extendedprice), 2) AS mean_plain,
           round(avg(l.l_extendedprice) FILTER (
             WHERE l.l_extendedprice >= b.lo AND l.l_extendedprice <= b.hi),
             2) AS mean_trimmed
    FROM lineitem l JOIN b USING (l_returnflag)
    GROUP BY l.l_returnflag
    """,
)
def trimmed_mean_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5 % two-sided trimmed mean per return flag next to the plain mean —
    the robust-location companion to `winsorize_order_prices` (winsorize
    CLAMPS the tails into the estimate, trimming EXCLUDES them; the gap
    between the two means is itself an outlier-mass diagnostic). One
    percentile pass for the per-group bounds (3-row frame, broadcast
    back) + one conditional aggregation; exact percentile ≡ quantile_cont
    (house rule), so the kept set is identical across engines."""
    li = _t(spark, sf_dir, "lineitem")
    b = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.05)").alias("lo"),
        F.expr("percentile(l_extendedprice, 0.95)").alias("hi"),
    )
    j = li.join(F.broadcast(b), "l_returnflag")
    kept = (F.col("l_extendedprice") >= F.col("lo")) & (
        F.col("l_extendedprice") <= F.col("hi")
    )
    return j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.count(F.when(kept, 1)).cast("long").alias("n_kept"),
        F.round(F.avg("l_extendedprice"), 2).alias("mean_plain"),
        F.round(F.avg(F.when(kept, F.col("l_extendedprice"))), 2).alias(
            "mean_trimmed"
        ),
    )


@register(
    "trimmed_mean_prices_approx",
    """
    WITH b AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, CAST(0.05 AS DOUBLE)) AS lo,
             quantile_cont(l_extendedprice, CAST(0.95 AS DOUBLE)) AS hi
      FROM lineitem GROUP BY l_returnflag)
    SELECT l.l_returnflag,
           round(avg(l.l_extendedprice) FILTER (
             WHERE l.l_extendedprice >= b.lo AND l.l_extendedprice <= b.hi),
             2) AS mean_trimmed_exact,
           TRUE AS lo_within_rank_tol,
           TRUE AS hi_within_rank_tol,
           TRUE AS mean_within_1pct
    FROM lineitem l JOIN b USING (l_returnflag)
    GROUP BY l.l_returnflag
    """,
)
def trimmed_mean_prices_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile-bounded trimmed mean — the 100 TB sibling of
    `trimmed_mean_prices` (r6 VERDICT #6). The exact form pays two full
    per-group percentile sorts just to find the 5 %/95 % cut points; here
    the bounds come from the GK sketch (accuracy 1000 → rank error
    ≤ 0.1 %), whose state is fixed-size and mergeable — one pass, no
    per-group sort. Contract pinned engine-side, sketch-family pattern
    (`approx_quantile_value`): each approx bound must land between the
    exact percentiles one rank-percent either side (0.04/0.06 and
    0.94/0.96), and the approx-trimmed mean within 1 % relative of the
    exact one; the exact trimmed mean itself is value-checked. Production
    use drops the exact branch — it exists here only to measure the
    sketch against."""
    li = _t(spark, sf_dir, "lineitem")
    b = li.groupBy("l_returnflag").agg(
        F.expr(
            "percentile(l_extendedprice, array(0.04, 0.05, 0.06, 0.94, 0.95, 0.96))"
        ).alias("pe"),
        F.expr("approx_percentile(l_extendedprice, array(0.05, 0.95), 1000)").alias(
            "pa"
        ),
    ).select(
        "l_returnflag",
        F.col("pe")[1].alias("lo_e"),
        F.col("pe")[4].alias("hi_e"),
        F.col("pa")[0].alias("lo_a"),
        F.col("pa")[1].alias("hi_a"),
        F.col("pe")[0].alias("lo_lb"),
        F.col("pe")[2].alias("lo_ub"),
        F.col("pe")[3].alias("hi_lb"),
        F.col("pe")[5].alias("hi_ub"),
    )
    j = li.join(F.broadcast(b), "l_returnflag")
    kept_e = (F.col("l_extendedprice") >= F.col("lo_e")) & (
        F.col("l_extendedprice") <= F.col("hi_e")
    )
    kept_a = (F.col("l_extendedprice") >= F.col("lo_a")) & (
        F.col("l_extendedprice") <= F.col("hi_a")
    )
    return j.groupBy("l_returnflag").agg(
        F.round(F.avg(F.when(kept_e, F.col("l_extendedprice"))), 2).alias(
            "mean_trimmed_exact"
        ),
        F.avg(F.when(kept_a, F.col("l_extendedprice"))).alias("_mean_a"),
        F.avg(F.when(kept_e, F.col("l_extendedprice"))).alias("_mean_e"),
        ((F.first("lo_a") >= F.first("lo_lb")) & (F.first("lo_a") <= F.first("lo_ub")))
        .alias("lo_within_rank_tol"),
        ((F.first("hi_a") >= F.first("hi_lb")) & (F.first("hi_a") <= F.first("hi_ub")))
        .alias("hi_within_rank_tol"),
    ).select(
        "l_returnflag",
        "mean_trimmed_exact",
        "lo_within_rank_tol",
        "hi_within_rank_tol",
        (
            F.abs(F.col("_mean_a") - F.col("_mean_e"))
            <= 0.01 * F.abs(F.col("_mean_e"))
        ).alias("mean_within_1pct"),
    )


@register(
    "weighted_median_price_approx",
    """
    WITH r AS (
      SELECT l_returnflag, l_extendedprice,
             CAST(l_quantity AS BIGINT) AS w,
             sum(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING) AS cumw,
             sum(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag) AS totw
      FROM lineitem),
    e AS (SELECT l_returnflag,
                 CAST(max(totw) AS BIGINT) AS total_weight,
                 min(l_extendedprice) FILTER (WHERE 2 * cumw >= totw)
                   AS exact_median
          FROM r GROUP BY l_returnflag),
    rng AS (SELECT l_returnflag, min(l_extendedprice) AS pmin,
                   max(l_extendedprice) AS pmax
            FROM lineitem GROUP BY l_returnflag),
    b AS (SELECT l.l_returnflag, CAST(l_quantity AS BIGINT) AS w,
                 least(255, CAST(floor((l_extendedprice - pmin)
                                       / (pmax - pmin) * 256) AS INT)) AS bin
          FROM lineitem l JOIN rng USING (l_returnflag)),
    h AS (SELECT l_returnflag, bin, sum(w) AS bw FROM b GROUP BY 1, 2),
    c AS (SELECT *, sum(bw) OVER (PARTITION BY l_returnflag ORDER BY bin)
                      AS cum,
                 sum(bw) OVER (PARTITION BY l_returnflag) AS tot FROM h),
    s AS (SELECT l_returnflag, min(bin) FILTER (WHERE 2 * cum >= tot) AS bbin
          FROM c GROUP BY l_returnflag)
    SELECT e.l_returnflag, e.total_weight,
           rng.pmin + (s.bbin + 0.5) * (rng.pmax - rng.pmin) / 256
             AS approx_median,
           TRUE AS within_half_bin
    FROM e JOIN s USING (l_returnflag) JOIN rng USING (l_returnflag)
    """,
)
def weighted_median_price_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-pass approximate weighted median: the boundary bin's midpoint
    from a 256-bucket weight histogram — the true 100 TB form of
    `weighted_median_price` (r6 VERDICT #6). The exact single-window form
    sorts each group (parallelism = group count); the exact binned form
    (`weighted_median_binned`) adds a second pass over the boundary bin;
    this one stops after the histogram: fixed-size mergeable state, error
    ≤ half a bin width by construction (the exact median provably lies in
    the boundary bin). The midpoint arithmetic is replicated term-for-term
    in the oracle (raw IEEE doubles, no rounding), the exact median is
    computed alongside only to pin |approx − exact| ≤ width/2 engine-side
    — production use drops that branch."""
    li = _t(spark, sf_dir, "lineitem")
    wq = F.col("l_quantity").cast("long")
    rng = li.groupBy("l_returnflag").agg(
        F.min("l_extendedprice").alias("pmin"),
        F.max("l_extendedprice").alias("pmax"),
    )
    binned = li.join(F.broadcast(rng), "l_returnflag").select(
        "l_returnflag",
        wq.alias("w"),
        F.least(
            F.lit(255),
            F.floor(
                (F.col("l_extendedprice") - F.col("pmin"))
                / (F.col("pmax") - F.col("pmin"))
                * 256
            ).cast("int"),
        ).alias("bin"),
    )
    hist = binned.groupBy("l_returnflag", "bin").agg(F.sum("w").alias("bw"))
    wb = W.partitionBy("l_returnflag").orderBy("bin")
    cum = hist.withColumn(
        "cum", F.sum("bw").over(wb.rowsBetween(W.unboundedPreceding, W.currentRow))
    ).withColumn("tot", F.sum("bw").over(W.partitionBy("l_returnflag")))
    sel = (
        cum.filter(2 * F.col("cum") >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(F.min("bin").alias("bbin"))
    )
    approx = sel.join(rng, "l_returnflag").select(
        "l_returnflag",
        (
            F.col("pmin")
            + (F.col("bbin") + F.lit(0.5)) * (F.col("pmax") - F.col("pmin")) / 256
        ).alias("approx_median"),
        ((F.col("pmax") - F.col("pmin")) / 256).alias("_width"),
    )
    # exact branch (window form) — correctness pin only, not the scale path
    order = [F.col("l_extendedprice"), F.col("l_orderkey"), F.col("l_linenumber")]
    wcum = (
        W.partitionBy("l_returnflag")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    exact = (
        li.select(
            "l_returnflag",
            "l_extendedprice",
            F.sum(wq).over(wcum).alias("cumw"),
            F.sum(wq).over(W.partitionBy("l_returnflag")).alias("totw"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.max("totw").cast("long").alias("total_weight"),
            F.min(
                F.when(2 * F.col("cumw") >= F.col("totw"), F.col("l_extendedprice"))
            ).alias("_exact"),
        )
    )
    return exact.join(approx, "l_returnflag").select(
        "l_returnflag",
        "total_weight",
        "approx_median",
        (
            F.abs(F.col("approx_median") - F.col("_exact"))
            <= F.col("_width") / 2 + F.lit(1e-9) * F.col("_width")
        ).alias("within_half_bin"),
    )


@register(
    "lateral_top2_orders_per_customer",
    """
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice, o.rk
    FROM customer c,
    LATERAL (
      SELECT o_orderkey, o_totalprice,
             CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
                  AS BIGINT) AS rk
      FROM orders
      WHERE o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 2
    ) o
    WHERE c.c_nationkey < 3
    """,
)
def lateral_top2_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 orders per customer via a correlated LATERAL subquery — the
    SQL-surface sibling of the window-rank idiom (`rank_top3_per_segment`),
    exercising Spark's DecorrelateInnerQuery path: Catalyst rewrites the
    per-row subquery into a JOIN + window, so the executed plan is the
    same shuffle shape as the window form (pinned ≤3 keyed exchanges), not
    N per-customer scans — which is exactly what makes LATERAL safe at
    100 TB. DuckDB executes the IDENTICAL statement."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    c.createOrReplaceTempView("_lat_customer")
    o.createOrReplaceTempView("_lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice, o.rk
        FROM _lat_customer c,
        LATERAL (
          SELECT o_orderkey, o_totalprice,
                 CAST(row_number() OVER (ORDER BY o_totalprice DESC,
                                         o_orderkey) AS BIGINT) AS rk
          FROM _lat_orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2
        ) o
        WHERE c.c_nationkey < 3
        """
    )


@register(
    "hof_embedding_battery",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (
      SELECT vec_id,
             CAST(len(v) AS BIGINT) AS dim,
             CAST(len(list_filter(v, x -> x > 0)) AS BIGINT) AS n_pos,
             list_sum(list_transform(v, x -> x * x)) AS sq,
             list_sum(v) / len(v) AS mean_dim,
             CASE WHEN len(list_filter(v, x -> abs(x) > 3.0)) > 0
               THEN 1 ELSE 0 END AS has_outlier_dim
      FROM e)
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(max(dim) AS BIGINT) AS dim,
           round(avg(n_pos), 4) AS avg_positive_dims,
           round(avg(sqrt(sq)), 6) AS avg_l2_norm,
           round(avg(mean_dim), 6) AS avg_mean_dim,
           CAST(sum(has_outlier_dim) AS BIGINT) AS n_with_outlier_dim
    FROM s
    """,
)
def hof_embedding_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order-function battery over the embedding column: per-vector
    transform/filter/aggregate lambdas (positive-dim count, L2 norm, mean
    component, |x|>3 outlier flag) rolled into one corpus report — the
    surface a vector pipeline uses for sanity screens before indexing,
    and the demonstration that Spark's HOF lambdas (JVM-side, no Python)
    mirror DuckDB's list_* lambdas one-to-one. ONE scan, one global
    aggregate; per-vector arithmetic stays raw IEEE."""
    from windflow_spark.functions.similarity import as_double_array

    emb = _t(spark, sf_dir, "embeddings")
    v = as_double_array("embedding")
    s = emb.select(
        F.size(v).cast("long").alias("dim"),
        F.size(F.filter(v, lambda x: x > 0)).cast("long").alias("n_pos"),
        F.aggregate(
            F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        ).alias("sq"),
        (
            F.aggregate(v, F.lit(0.0), lambda a, x: a + x) / F.size(v)
        ).alias("mean_dim"),
        F.when(
            F.size(F.filter(v, lambda x: F.abs(x) > 3.0)) > 0, 1
        )
        .otherwise(0)
        .alias("has_outlier_dim"),
    )
    return s.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.max("dim").cast("long").alias("dim"),
        F.round(F.avg("n_pos"), 4).alias("avg_positive_dims"),
        F.round(F.avg(F.sqrt("sq")), 6).alias("avg_l2_norm"),
        F.round(F.avg("mean_dim"), 6).alias("avg_mean_dim"),
        F.sum("has_outlier_dim").cast("long").alias("n_with_outlier_dim"),
    )


@register(
    "asof_join_next_purchase",
    """
    SELECT a.event_id, a.user_id, a.ts,
           b.event_id AS b_event_id, b.value AS b_value
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') a
    ASOF LEFT JOIN
         (SELECT user_id, ts, min(event_id) AS event_id,
                 arg_min(value, event_id) AS value
          FROM events WHERE event_type = 'purchase'
          GROUP BY user_id, ts) b
    ON a.user_id = b.user_id AND b.ts >= a.ts
    """,
)
def asof_join_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each click matched with the user's EARLIEST
    purchase at or after it — the time-to-next-event direction
    (`asof_join_prev_purchase` mirrored; DuckDB `ASOF ... ON b.ts >= a.ts`
    is the oracle). Same union + fill scale shape: one shuffle, |A|+|B|
    intermediate rows, the fill runs first(payload) over the FOLLOWING
    frame instead of last() over the preceding one. Purchase side deduped
    on (user_id, ts) on both engines — native ASOF equal-ts tie-breaks are
    implementation-defined (r7 ADVICE)."""
    from windflow_spark.operators.asof_join import asof_join_forward

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.min("event_id").alias("event_id"),
            F.min_by("value", "event_id").alias("value"),
        )
    )
    return asof_join_forward(
        clicks, purchases, ["user_id"], "ts", "ts", ["event_id", "value"]
    ).select("event_id", "user_id", "ts", "b_event_id", "b_value")


@register(
    "fingerprint_winnowing",
    r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(trim(regexp_replace(regexp_replace(
               lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')), ' '),
               x -> x <> '') AS toks
      FROM documents),
    s AS (SELECT doc_id,
                 [array_to_string(toks[i:i+2], ' ')
                  for i in generate_series(1, len(toks) - 2)] AS shingles
          FROM t WHERE len(toks) >= 6),
    h AS (SELECT doc_id,
                 [('0x' || substr(md5(s), 1, 15))::BIGINT
                  for s in shingles] AS hs
          FROM s),
    wmin AS (SELECT doc_id,
                    list_distinct([list_min(hs[i:i+3])
                      for i in generate_series(1, len(hs) - 3)]) AS fps
             FROM h)
    SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fingerprints,
           list_min(fps) AS fp_min, list_max(fps) AS fp_max
    FROM wmin
    """,
)
def fingerprint_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS local-fingerprint
    algorithm): 3-word shingles are hashed (md5-derived 60-bit ints, the
    repo's engine-portable hash), every sliding window of 4 consecutive
    shingle hashes contributes its MINIMUM, and the distinct selected
    values form the fingerprint set. Unlike the global `doc_fingerprint`
    md5 (changes entirely on any edit), winnowing guarantees any shared
    substring of ≥ 6 words produces at least one shared fingerprint —
    the robust plagiarism/near-dup detector. Everything runs as JVM-side
    higher-order functions on per-row arrays (transform/slice/array_min —
    no UDF, no explode, no shuffle before the final projection), so at
    100 TB it executes at scan speed with column pruning. Docs shorter
    than k+w−1 = 6 tokens have no window and are excluded (both engines)."""
    docs = _t_wide(spark, sf_dir, "documents")
    from windflow_spark.functions.text import normalize_text

    toks = F.filter(
        F.split(normalize_text("text"), " "), lambda x: x != F.lit("")
    )
    d = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 6)
    shingles = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 2),
        lambda i: F.array_join(F.slice("toks", i, 3), " "),
    )
    h = d.select(
        "doc_id",
        F.transform(
            shingles,
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
        ).alias("hs"),
    )
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("hs") - 3),
            lambda i: F.array_min(F.slice("hs", i, 4)),
        )
    )
    return h.select("doc_id", fps.alias("fps")).select(
        "doc_id",
        F.size("fps").cast("long").alias("n_fingerprints"),
        F.array_min("fps").alias("fp_min"),
        F.array_max("fps").alias("fp_max"),
    )


@register(
    "mannwhitney_u_price",
    """
    WITH j AS (
      SELECT o_totalprice AS v, (c_mktsegment = 'BUILDING') AS g
      FROM orders JOIN customer ON o_custkey = c_custkey),
    r AS (SELECT g,
                 rank() OVER (ORDER BY v)
                   + (count(*) OVER (PARTITION BY v) - 1) / 2.0 AS ar
          FROM j),
    s AS (SELECT sum(ar) FILTER (WHERE g) AS r1,
                 CAST(count(*) FILTER (WHERE g) AS BIGINT) AS n1,
                 CAST(count(*) FILTER (WHERE NOT g) AS BIGINT) AS n2
          FROM r)
    SELECT n1, n2,
           r1 - n1 * (n1 + 1) / 2.0 AS u1,
           round((r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
                 / sqrt(n1 * n2 * (n1 + n2 + 1) / 12.0), 6) AS z
    FROM s
    """,
)
def mannwhitney_u_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum test: are BUILDING-segment order prices
    stochastically larger than the rest? The nonparametric sibling of
    `ab_test_welch` (no normality assumption). Scale form: ranks are NOT
    computed by sorting the fact table — prices aggregate to a DISTINCT-
    VALUE frame first (count + group-1 count per price), the average rank
    per value comes from a cumulative sum over that far smaller frame,
    and the rank-sum R1 is Σ n1(v)·avgrank(v). Every rank is a multiple
    of 0.5 and every partial sum stays < 2^52, so the float arithmetic is
    EXACT in any association order — U1 is emitted raw and matches the
    oracle's row-level window form bit-for-bit. z uses the large-sample
    normal approximation without tie correction (documented; prices are
    near-unique so ties are negligible), rounded 6dp.

    SCALE CAVEAT (r7 ADVICE): the distinct-value shrink only helps for
    low-cardinality columns — o_totalprice is near-unique, so here the
    distinct frame is ≈ the full table and the rank window is a
    single-partition sort plus a large broadcast. At 100 TB either
    quantize the metric first (e.g. cents→dollar bins, accepting binned
    ranks) or compute ranks with a range-partitioned two-pass
    (per-partition counts → prefix offsets), as `bin_equal_freq` does."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("o_totalprice").alias("v"),
        (F.col("c_mktsegment") == "BUILDING").alias("g"),
    )
    byv = j.groupBy("v").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("g"), 1)).alias("n1v"),
    )
    wv = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    ranked = byv.withColumn("cum", F.sum("n").over(wv)).select(
        "n1v",
        "n",
        (F.col("cum") - F.col("n") + (F.col("n") + 1) / 2.0).alias("ar"),
    )
    s = ranked.agg(
        F.sum(F.col("n1v") * F.col("ar")).alias("r1"),
        F.sum("n1v").cast("long").alias("n1"),
        F.sum(F.col("n") - F.col("n1v")).cast("long").alias("n2"),
    )
    u1 = F.col("r1") - F.col("n1") * (F.col("n1") + 1) / 2.0
    z = (u1 - F.col("n1") * F.col("n2") / 2.0) / F.sqrt(
        F.col("n1") * F.col("n2") * (F.col("n1") + F.col("n2") + 1) / 12.0
    )
    return s.select("n1", "n2", u1.alias("u1"), F.round(z, 6).alias("z"))


@register(
    "spearman_corr_price_qty",
    """
    WITH r AS (
      SELECT rank() OVER (ORDER BY l_extendedprice)
               + (count(*) OVER (PARTITION BY l_extendedprice) - 1) / 2.0
               AS rp,
             rank() OVER (ORDER BY l_quantity)
               + (count(*) OVER (PARTITION BY l_quantity) - 1) / 2.0 AS rq
      FROM lineitem)
    SELECT CAST(count(*) AS BIGINT) AS n, round(corr(rp, rq), 6) AS rho
    FROM r
    """,
)
def spearman_corr_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between line price and quantity — the
    monotone-association companion to `corr_lineitem_metrics` (Pearson).
    Scale form: each column's average ranks come from its DISTINCT-VALUE
    frame (quantity has ~50 values, price collapses ~4×) via one
    cumulative sum over the sorted distinct values, then the rank maps
    broadcast back onto the facts and a single corr() co-moment pass
    finishes — the fact table is never globally sorted. Ranks are exact
    0.5-rationals; corr rounds 6dp (one-pass co-moment on both engines).

    SCALE CAVEAT (r7 ADVICE): this shape pays off only when the metric's
    distinct-value frame is genuinely small (l_quantity: ~50 values).
    l_extendedprice is near-unique, so ITS rank map is ≈ the full table —
    a single-partition window sort plus a large broadcast. At 100 TB
    quantize near-unique metrics first or rank via a range-partitioned
    two-pass (per-partition counts → prefix offsets)."""
    li = _t(spark, sf_dir, "lineitem").select("l_extendedprice", "l_quantity")

    def rank_map(col: str):
        byv = li.groupBy(col).agg(F.count(F.lit(1)).alias("n"))
        wv = W.orderBy(col).rowsBetween(W.unboundedPreceding, W.currentRow)
        return byv.withColumn("cum", F.sum("n").over(wv)).select(
            col,
            (F.col("cum") - F.col("n") + (F.col("n") + 1) / 2.0).alias(f"r_{col}"),
        )
    j = li.join(F.broadcast(rank_map("l_extendedprice")), "l_extendedprice").join(
        F.broadcast(rank_map("l_quantity")), "l_quantity"
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.corr("r_l_extendedprice", "r_l_quantity"), 6).alias("rho"),
    )


@register(
    "heaps_law_vocab_growth",
    r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(trim(regexp_replace(regexp_replace(
               lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')), ' '),
               x -> x <> '') AS toks
      FROM documents),
    bsz AS (SELECT CAST(ceil((max(doc_id) + 1) / 20.0) AS BIGINT) AS b FROM t),
    tok AS (SELECT doc_id // (SELECT b FROM bsz) AS bucket, u.tok
            FROM t, unnest(toks) AS u(tok)),
    per AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_tokens
            FROM tok GROUP BY bucket),
    firsts AS (SELECT min(bucket) AS fb FROM tok GROUP BY tok),
    nv AS (SELECT fb AS bucket, CAST(count(*) AS BIGINT) AS new_types
           FROM firsts GROUP BY fb),
    g AS (SELECT p.bucket, p.n_tokens, coalesce(nv.new_types, 0) AS new_types
          FROM per p LEFT JOIN nv USING (bucket)),
    c AS (SELECT bucket,
                 sum(n_tokens) OVER (ORDER BY bucket) AS cum_tokens,
                 sum(new_types) OVER (ORDER BY bucket) AS cum_types
          FROM g)
    SELECT bucket, CAST(cum_tokens AS BIGINT) AS cum_tokens,
           CAST(cum_types AS BIGINT) AS cum_types,
           round(regr_slope(ln(CAST(cum_types AS DOUBLE)),
                            ln(CAST(cum_tokens AS DOUBLE))) OVER (), 6)
             AS heaps_beta
    FROM c
    """,
)
def heaps_law_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve: the corpus is cut into 20
    arrival buckets by doc_id, each bucket reports CUMULATIVE token count
    vs CUMULATIVE distinct-type count, and the log-log regression slope
    over the 20 points estimates the Heaps exponent β (V ≈ k·nᵝ, β≈0.5
    for natural text) — the capacity-planning number for tokenizer/vocab
    sizing on a growing corpus. Scale shape: the only big work is one
    explode + two keyed aggregations (tokens per bucket; FIRST bucket per
    type = a min-agg over the token frame — never a distinct-per-prefix
    rescan, which would be quadratic in buckets); the cumulative curve
    and the regression run on the 20-row summary. regr_slope ≡ DuckDB at
    6dp (r6 memory: regr_* parity)."""
    from windflow_spark.functions.text import normalize_text

    docs = _t_wide(spark, sf_dir, "documents")
    toks = F.filter(F.split(normalize_text("text"), " "), lambda x: x != F.lit(""))
    d = docs.select("doc_id", toks.alias("toks"))
    bsz = d.agg(
        F.ceil((F.max("doc_id") + 1) / 20.0).cast("long").alias("b")
    )
    tok = (
        d.crossJoin(F.broadcast(bsz))
        .select(
            # integer floor division (`div`), matching the oracle's `//`
            # unconditionally — double-divide-then-truncate is only
            # equivalent below 2^53 (r7 ADVICE)
            F.expr("doc_id div b").cast("long").alias("bucket"),
            F.explode("toks").alias("tok"),
        )
    )
    per = tok.groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("n_tokens"))
    nv = (
        tok.groupBy("tok")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("new_types"))
    )
    g = per.join(nv, "bucket", "left").select(
        "bucket",
        "n_tokens",
        F.coalesce("new_types", F.lit(0)).alias("new_types"),
    )
    wc = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    c = g.select(
        "bucket",
        F.sum("n_tokens").over(wc).cast("long").alias("cum_tokens"),
        F.sum("new_types").over(wc).cast("long").alias("cum_types"),
    )
    wall = W.partitionBy().rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return c.select(
        "bucket",
        "cum_tokens",
        "cum_types",
        F.round(
            F.regr_slope(
                F.log(F.col("cum_types").cast("double")),
                F.log(F.col("cum_tokens").cast("double")),
            ).over(wall),
            6,
        ).alias("heaps_beta"),
    )


@register(
    "cusum_order_volume",
    """
    WITH d AS (SELECT o_orderdate AS day, CAST(count(*) AS BIGINT) AS x
               FROM orders GROUP BY o_orderdate),
    t AS (SELECT CAST(count(*) AS BIGINT) AS nd, CAST(sum(x) AS BIGINT) AS tot
          FROM d),
    c AS (SELECT day, x,
                 sum(x * (SELECT nd FROM t) - (SELECT tot FROM t))
                   OVER (ORDER BY day) AS cpos,
                 sum((SELECT tot FROM t) - x * (SELECT nd FROM t))
                   OVER (ORDER BY day) AS cneg
          FROM d),
    s AS (SELECT day, x,
                 cpos - min(cpos) OVER (ORDER BY day) AS s_up,
                 cneg - min(cneg) OVER (ORDER BY day) AS s_down
          FROM c)
    SELECT day, x AS n_orders,
           CAST(s_up AS BIGINT) AS s_up, CAST(s_down AS BIGINT) AS s_down,
           (s_up > 8 * (SELECT tot FROM t)
             OR s_down > 8 * (SELECT tot FROM t)) AS alarm
    FROM s
    """,
)
def cusum_order_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM drift detector on daily order volume — the
    sequential changepoint monitor complementing the retrospective
    `ts_changepoint_meanshift` (CUSUM accumulates small persistent
    shifts; the mean-shift scan finds the single best split). Uses the
    cumsum-minus-running-min identity S_t = C_t − min_{i≤t} C_i (the
    recursive max(0, S+x) unrolled), so both one-sided statistics are
    plain ordered windows. INTEGER-EXACT throughout: the series is scaled
    by n_days (x·N − total instead of x − mean), keeping every value a
    BIGINT — no float mean, no rounding, bit-identical across engines.
    The day frame is tiny after the first keyed aggregation; alarm
    threshold 8·total (≈ 8 mean-days of accumulated deviation, the
    h≈8σ-ish convention on the scaled series)."""
    o = _t(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    t = d.agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("x").cast("long").alias("tot"),
    )
    wd = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    c = d.crossJoin(F.broadcast(t)).select(
        "day",
        "x",
        "tot",
        F.sum(F.col("x") * F.col("nd") - F.col("tot")).over(wd).alias("cpos"),
        F.sum(F.col("tot") - F.col("x") * F.col("nd")).over(wd).alias("cneg"),
    )
    s = c.select(
        "day",
        "x",
        "tot",
        (F.col("cpos") - F.min("cpos").over(wd)).alias("s_up"),
        (F.col("cneg") - F.min("cneg").over(wd)).alias("s_down"),
    )
    return s.select(
        "day",
        F.col("x").alias("n_orders"),
        F.col("s_up").cast("long").alias("s_up"),
        F.col("s_down").cast("long").alias("s_down"),
        (
            (F.col("s_up") > 8 * F.col("tot")) | (F.col("s_down") > 8 * F.col("tot"))
        ).alias("alarm"),
    )


@register(
    "theil_index_segments",
    """
    WITH r AS (
      SELECT c.c_mktsegment AS seg, sum(o.o_totalprice) AS x
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_mktsegment),
    g AS (SELECT seg, CAST(count(*) AS BIGINT) AS n_g, sum(x) AS sum_g,
                 sum(x * ln(x)) AS sxlx
          FROM r GROUP BY seg),
    tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n, sum(sum_g) AS s FROM g)
    SELECT g.seg,
           g.n_g,
           round(g.sum_g / tot.s, 6) AS revenue_share,
           round((g.sxlx / g.sum_g) - ln(g.sum_g / g.n_g), 6) AS theil_within,
           round((g.sum_g / tot.s)
                 * ln((g.sum_g / g.n_g) / (tot.s / tot.n)), 6)
             AS theil_between_contrib
    FROM g, tot
    """,
)
def theil_index_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality of per-customer revenue, DECOMPOSED by market
    segment — the additive between/within split Gini cannot do
    (`revenue_gini_segments` gives the headline number; Theil answers
    "how much inequality lives inside segments vs between them"). Using
    T_g = Σ(x/μ_g)ln(x/μ_g)/n_g = (Σx·ln x)/Σx − ln μ_g, each segment
    needs only THREE mergeable partials (n, Σx, Σx·ln x) — one keyed
    aggregation over customers, no per-row normalization join, so at
    100 TB it is exactly as cheap as a sum. Between-group term is
    s_g·ln(μ_g/μ) on the 5-row summary. 6dp rounds absorb float-sum
    association (ln is ≤1-ulp both engines)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    r = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", F.col("c_mktsegment").alias("seg"))
        .agg(F.sum("o_totalprice").alias("x"))
        .select("seg", F.col("x").cast("double").alias("x"))
    )
    g = r.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("x").alias("sum_g"),
        F.sum(F.col("x") * F.log("x")).alias("sxlx"),
    )
    tot = g.agg(
        F.sum("n_g").cast("long").alias("n"), F.sum("sum_g").alias("s")
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "seg",
        "n_g",
        F.round(F.col("sum_g") / F.col("s"), 6).alias("revenue_share"),
        F.round(
            F.col("sxlx") / F.col("sum_g") - F.log(F.col("sum_g") / F.col("n_g")), 6
        ).alias("theil_within"),
        F.round(
            (F.col("sum_g") / F.col("s"))
            * F.log((F.col("sum_g") / F.col("n_g")) / (F.col("s") / F.col("n"))),
            6,
        ).alias("theil_between_contrib"),
    )


@register(
    "attribution_position_based",
    """
    WITH conv AS (
      SELECT user_id, event_id AS conv_id, epoch_us(ts) AS cus
      FROM events WHERE event_type = 'purchase'),
    touch AS (
      SELECT user_id, event_type, epoch_us(ts) AS tus, event_id
      FROM events WHERE event_type IN ('view', 'click')),
    pair AS (
      SELECT c.conv_id, t.event_type, t.tus, t.event_id
      FROM conv c JOIN touch t
        ON t.user_id = c.user_id
       AND t.tus <= c.cus AND c.cus - t.tus <= 604800000000),
    ranked AS (
      SELECT conv_id, event_type,
             row_number() OVER (PARTITION BY conv_id
                                ORDER BY tus, event_id) AS rn,
             CAST(count(*) OVER (PARTITION BY conv_id) AS BIGINT) AS k
      FROM pair),
    sh AS (SELECT event_type,
                  CASE WHEN k = 1 THEN 1.0
                       WHEN k = 2 THEN 0.5
                       WHEN rn = 1 OR rn = k THEN 0.4
                       ELSE 0.2 / (k - 2) END AS share
           FROM ranked)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_touch_pairs,
           round(sum(share), 6) AS credit,
           round(avg(share), 6) AS avg_share
    FROM sh GROUP BY event_type
    """,
)
def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped 40/20/40) multi-touch attribution:
    within each purchase's 7-day lookback the FIRST touch earns 40 %,
    the LAST 40 %, middles split the remaining 20 % evenly (single touch
    100 %, two touches 50/50) — the discover-vs-close split completing
    the attribution family (last-touch = all-or-nothing, time-decay =
    exponential). Same user-keyed pair shape as `time_decay_attribution`
    (equi-join + bounded residual range; per-user fan-out is activity²
    with the bucketed interval join as the escape hatch); positions are
    one window over the pair frame keyed by conversion. Shares are exact
    k-dependent rationals (same float division both engines), 6dp sums."""
    from windflow_spark.operators.timeutil import event_micros

    ev = _t(spark, sf_dir, "events")
    us = event_micros(ev, "ts")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("conv_id"), us.alias("cus")
    )
    touch = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id", "event_type", us.alias("tus"), "event_id"
    )
    pair = conv.join(touch, "user_id").filter(
        (F.col("tus") <= F.col("cus"))
        & (F.col("cus") - F.col("tus") <= F.lit(604_800_000_000))
    )
    wr = W.partitionBy("conv_id").orderBy("tus", "event_id")
    ranked = pair.select(
        "conv_id",
        "event_type",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("conv_id")).cast("long").alias("k"),
    )
    share = (
        F.when(F.col("k") == 1, F.lit(1.0))
        .when(F.col("k") == 2, F.lit(0.5))
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("k")), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("k") - 2))
    )
    return (
        ranked.select("event_type", share.alias("share"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touch_pairs"),
            F.round(F.sum("share"), 6).alias("credit"),
            F.round(F.avg("share"), 6).alias("avg_share"),
        )
    )


@register(
    "recsys_ndcg_at3",
    """
    WITH cut AS (SELECT (min(epoch_us(o_orderdate))
                         + max(epoch_us(o_orderdate))) // 2 AS c
                 FROM orders),
    tro AS (SELECT * FROM orders
            WHERE epoch_us(o_orderdate) <= (SELECT c FROM cut)),
    teo AS (SELECT * FROM orders
            WHERE epoch_us(o_orderdate) > (SELECT c FROM cut)),
    b0 AS (SELECT o.o_custkey AS ck, l.l_partkey AS pk,
                  max(o.o_orderdate) AS md
           FROM lineitem l JOIN tro o ON l.l_orderkey = o.o_orderkey
           GROUP BY 1, 2),
    b AS (SELECT ck, pk FROM (
            SELECT ck, pk, row_number() OVER (PARTITION BY ck
                     ORDER BY md DESC, pk) AS rn
            FROM b0) WHERE rn <= 10),
    cnt AS (SELECT pk, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY pk),
    pr AS (SELECT a.pk AS pa, b2.pk AS pb, CAST(count(*) AS BIGINT) AS cooc
           FROM b a JOIN b b2 ON a.ck = b2.ck AND a.pk < b2.pk
           GROUP BY 1, 2
           HAVING count(*) >= 2),
    sym AS (SELECT pa AS item_a, pb AS item_b, cooc FROM pr
            UNION ALL
            SELECT pb, pa, cooc FROM pr),
    sc AS (SELECT s.item_a, s.item_b,
                  round(s.cooc / sqrt(ca.n * cb.n), 6) AS cosine_sim
           FROM sym s JOIN cnt ca ON s.item_a = ca.pk
                      JOIN cnt cb ON s.item_b = cb.pk),
    model AS (SELECT item_a, item_b, cosine_sim FROM (
                SELECT *, row_number() OVER (PARTITION BY item_a
                          ORDER BY cosine_sim DESC, item_b) AS rk
                FROM sc) WHERE rk <= 3),
    cand AS (SELECT b.ck, m.item_b AS pk,
                    CAST(sum(CAST(round(m.cosine_sim * 1000000) AS BIGINT))
                         AS BIGINT) AS score
             FROM b JOIN model m ON b.pk = m.item_a
             WHERE NOT EXISTS (SELECT 1 FROM b b3
                               WHERE b3.ck = b.ck AND b3.pk = m.item_b)
             GROUP BY b.ck, m.item_b),
    top3 AS (SELECT ck, pk, pos FROM (
               SELECT ck, pk, row_number() OVER (PARTITION BY ck
                        ORDER BY score DESC, pk) AS pos
               FROM cand) WHERE pos <= 3),
    test AS (SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
             FROM lineitem l JOIN teo o ON l.l_orderkey = o.o_orderkey),
    nrel AS (SELECT ck, CAST(count(*) AS BIGINT) AS n_rel
             FROM test GROUP BY ck),
    eval_u AS (SELECT DISTINCT t.ck FROM test t
               WHERE t.ck IN (SELECT ck FROM b)),
    dcg AS (SELECT e.ck,
                   coalesce(sum(CASE WHEN t.pk IS NOT NULL
                     THEN 1.0 / (ln(p.pos + 1) / ln(2)) END), 0) AS dcg
            FROM eval_u e
            LEFT JOIN top3 p ON p.ck = e.ck
            LEFT JOIN test t ON t.ck = p.ck AND t.pk = p.pk
            GROUP BY e.ck),
    nd AS (SELECT d.ck, d.dcg,
                  d.dcg / (CASE WHEN n.n_rel >= 3
                                THEN 1.0 + 1.0 / (ln(3.0) / ln(2)) + 0.5
                                WHEN n.n_rel = 2
                                THEN 1.0 + 1.0 / (ln(3.0) / ln(2))
                                ELSE 1.0 END) AS ndcg
           FROM dcg d JOIN nrel n ON d.ck = n.ck)
    SELECT CAST(count(*) AS BIGINT) AS n_eval_users,
           CAST(count(*) FILTER (WHERE dcg > 0) AS BIGINT) AS n_hit_users,
           round(avg(dcg), 6) AS avg_dcg,
           round(avg(ndcg), 6) AS avg_ndcg
    FROM nd
    """,
)
def recsys_ndcg_at3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@3 of the item-item recommender under the temporal holdout
    `_recsys_holdout` — rank-aware evaluation (a hit at position 1 is
    worth 2× one at position 3), the second standard recsys metric. The
    per-user top 3 is `_recsys_ranked` (summed integer-scaled cosine over
    the basket's neighbor lists, train-basket items excluded). IDCG is
    the closed form over min(3, n_rel) ideal positions. Same
    capped-basket bounded shapes as the model; the eval adds
    co-partitioned (ck, pk) joins only."""
    base, b = _recsys_holdout(spark, sf_dir)
    top3 = _recsys_ranked(b, sf_dir, 3)
    test = base.filter(~F.col("_train")).select("ck", "pk").distinct()
    nrel = test.groupBy("ck").agg(F.count(F.lit(1)).cast("long").alias("n_rel"))
    eval_u = test.select("ck").distinct().join(
        b.select("ck").distinct(), "ck", "left_semi"
    )
    hits = top3.join(test, ["ck", "pk"], "left_semi")
    dcg = (
        eval_u.join(
            hits.select(
                "ck", (F.lit(1.0) / (F.log(F.col("pos") + 1) / F.log(F.lit(2.0)))).alias("g")
            ),
            "ck",
            "left",
        )
        .groupBy("ck")
        .agg(F.coalesce(F.sum("g"), F.lit(0.0)).alias("dcg"))
    )
    log2_3 = F.log(F.lit(3.0)) / F.log(F.lit(2.0))
    idcg = (
        F.when(F.col("n_rel") >= 3, F.lit(1.0) + F.lit(1.0) / log2_3 + F.lit(0.5))
        .when(F.col("n_rel") == 2, F.lit(1.0) + F.lit(1.0) / log2_3)
        .otherwise(F.lit(1.0))
    )
    nd = dcg.join(nrel, "ck").select(
        "dcg", (F.col("dcg") / idcg).alias("ndcg")
    )
    return nd.agg(
        F.count(F.lit(1)).cast("long").alias("n_eval_users"),
        F.count(F.when(F.col("dcg") > 0, 1)).cast("long").alias("n_hit_users"),
        F.round(F.avg("dcg"), 6).alias("avg_dcg"),
        F.round(F.avg("ndcg"), 6).alias("avg_ndcg"),
    )


@register(
    "dedup_lsh_recall",
    f"""
    WITH d AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents),
    s AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(toks) - 2),
                 i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh
      FROM d WHERE len(toks) >= 3),
    bs AS (
      SELECT doc_id, sh,
             list_transform(sh, s -> [
               ('0x' || substr(md5(s), 1, 15))::BIGINT,
               ('0x' || substr(md5(s), 16, 14))::BIGINT
             ]) AS base
      FROM s),
    g AS (
      SELECT doc_id, [
        {_MINHASH_MD5_MINS}
      ] AS sig FROM bs),
    b AS (
      SELECT doc_id, j AS band,
             md5(concat_ws(',', sig[j*4+1], sig[j*4+2], sig[j*4+3], sig[j*4+4]))
               AS bucket
      FROM g, generate_series(0, 7) AS t(j)),
    p AS (
      SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      FROM b a JOIN b b2
        ON a.band = b2.band AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id),
    ex AS (SELECT doc_id, unnest(sh) AS gr FROM s),
    shared AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
                      CAST(count(*) AS BIGINT) AS shared
               FROM ex x JOIN ex y ON x.gr = y.gr AND x.doc_id < y.doc_id
               GROUP BY 1, 2),
    sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS nsh FROM s),
    truth AS (SELECT id_a, id_b
              FROM shared JOIN sz a ON shared.id_a = a.doc_id
                          JOIN sz b3 ON shared.id_b = b3.doc_id
              WHERE 5 * shared >= 4 * (a.nsh + b3.nsh - shared)),
    hits AS (SELECT id_a, id_b FROM p INTERSECT SELECT id_a, id_b FROM truth)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true_pairs,
           (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_candidates,
           (SELECT CAST(count(*) AS BIGINT) FROM hits) AS n_hits,
           (SELECT count(*) FROM hits)
             / CAST((SELECT count(*) FROM truth) AS DOUBLE) AS recall,
           (SELECT count(*) FROM hits)
             / CAST((SELECT count(*) FROM p) AS DOUBLE) AS precision
    """,
)
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured pair recall/precision of the MinHash-LSH dedup path
    against EXACT ground truth — the dedup family's quality artifact,
    exactly as sim_*_recall measures the ANN family (the r6 verdict's
    'every ANN path has measured recall' posture, extended to dedup).
    Truth = every pair with exact 3-shingle Jaccard ≥ 0.8, generated by a
    shingle inverted-index join (a J≥0.8 pair must share a shingle, so
    the index is COMPLETE — no sampling), PREFIX-FILTERED: only each
    doc's ~n/5 rarest shingles generate candidates (PPJoin theorem — no
    ≥ 0.8 pair is lost), so hot boilerplate shingles never drive df²
    pair expansion; the 0.8 cut is the integer test 5·|∩| ≥ 4·(|∪|) on
    BOTH engines (the oracle runs the naive complete join — different
    algorithm, identical set: the strong oracle pattern). Candidates =
    the 8-band/4-row signature buckets of `dedup_minhash_lsh`
    (md5-portable mode). At 100 TB the prefix-filtered truth join IS the
    scale path for the exact audit."""
    from windflow_spark.functions.dedup import (
        exact_jaccard_pairs_prefix,
        minhash_lsh_candidates,
    )

    docs = _t(spark, sf_dir, "documents")
    cand = minhash_lsh_candidates(
        docs, num_hashes=32, bands=8, hash_mode="md5"
    ).select("id_a", "id_b").distinct()
    # truth via PREFIX FILTERING (exact_jaccard_pairs_prefix): the naive
    # shared-shingle inverted-index join the oracle runs is exact but
    # superlinear on a duplication-heavy corpus (hot boilerplate shingles
    # contribute df^2 pair rows — measured 46 s at sf1, the corpus' worst
    # 10x ratio; prefix+positional filtering cuts it to ~21 s / 4x,
    # this corpus's floor: its 50k docs share only ~32k distinct
    # shingles, so EVERY shingle is hot); provably loses no >= 0.8 pair
    truth = exact_jaccard_pairs_prefix(docs, 4, 5).select("id_a", "id_b")
    # r12 restructure (guide §2.4, replacing the r11 pair-list
    # checkpoints): all three counts fold into ONE aggregation pass over a
    # flag-union of the two (distinct) pair frames — n_candidates = Σcand,
    # n_true_pairs = Σtruth, n_hits = Σ(pairs carrying both flags). Each
    # pair chain now appears exactly ONCE in a single action (no more
    # chain-per-consumer re-derivation, and no eager checkpoint jobs that
    # serialize the two independent chains — the r11 in-loop regression).
    tagged = cand.select(
        "id_a", "id_b", F.lit(1).alias("_c"), F.lit(0).alias("_t")
    ).unionAll(
        truth.select("id_a", "id_b", F.lit(0).alias("_c"), F.lit(1).alias("_t"))
    )
    per_pair = tagged.groupBy("id_a", "id_b").agg(
        F.max("_c").alias("_c"), F.max("_t").alias("_t")
    )
    return per_pair.agg(
        F.sum("_t").cast("long").alias("n_true_pairs"),
        F.sum("_c").cast("long").alias("n_candidates"),
        F.sum(F.col("_c") * F.col("_t")).cast("long").alias("n_hits"),
    ).select(
        "n_true_pairs",
        "n_candidates",
        "n_hits",
        (F.col("n_hits") / F.col("n_true_pairs").cast("double")).alias("recall"),
        (F.col("n_hits") / F.col("n_candidates").cast("double")).alias(
            "precision"
        ),
    )


@register(
    "k_core_copurchase",
    """
    WITH li AS MATERIALIZED (
           SELECT DISTINCT l.l_orderkey AS ok, l.l_partkey AS pk
           FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
           WHERE p.p_size <= 25),
    e0 AS MATERIALIZED (SELECT DISTINCT a.pk AS u, b.pk AS v
           FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
    d0 AS MATERIALIZED (SELECT n, CAST(count(*) AS BIGINT) AS d
           FROM (SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0) GROUP BY n),
    k0 AS (SELECT n FROM d0 WHERE d >= 52),
    e1 AS MATERIALIZED (SELECT e.u, e.v FROM e0 e JOIN k0 a ON e.u = a.n
                                    JOIN k0 b ON e.v = b.n),
    d1 AS MATERIALIZED (SELECT n, CAST(count(*) AS BIGINT) AS d
           FROM (SELECT u AS n FROM e1 UNION ALL SELECT v FROM e1) GROUP BY n),
    k1 AS (SELECT n FROM d1 WHERE d >= 52),
    e2 AS MATERIALIZED (SELECT e.u, e.v FROM e1 e JOIN k1 a ON e.u = a.n
                                    JOIN k1 b ON e.v = b.n),
    d2 AS MATERIALIZED (SELECT n, CAST(count(*) AS BIGINT) AS d
           FROM (SELECT u AS n FROM e2 UNION ALL SELECT v FROM e2) GROUP BY n),
    k2 AS (SELECT n FROM d2 WHERE d >= 52),
    e3 AS MATERIALIZED (SELECT e.u, e.v FROM e2 e JOIN k2 a ON e.u = a.n
                                    JOIN k2 b ON e.v = b.n),
    d3 AS MATERIALIZED (SELECT n, CAST(count(*) AS BIGINT) AS d
           FROM (SELECT u AS n FROM e3 UNION ALL SELECT v FROM e3) GROUP BY n)
    SELECT CAST(0 AS BIGINT) AS round,
           (SELECT CAST(count(*) AS BIGINT) FROM d0) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM e0) AS n_edges
    UNION ALL SELECT 1, (SELECT count(*) FROM d1), (SELECT count(*) FROM e1)
    UNION ALL SELECT 2, (SELECT count(*) FROM d2), (SELECT count(*) FROM e2)
    UNION ALL SELECT 3, (SELECT count(*) FROM d3), (SELECT count(*) FROM e3)
    """,
)
def k_core_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (k=52, ~the median degree — chosen so the cascade
    is live at every tested scale) of the part co-purchase graph, 3
    unrolled rounds — the density-skeleton extractor (k-core survivors
    are the products with genuinely entangled demand; degree alone
    overcounts hub noise). Each round drops nodes of degree < k and
    re-filters edges by TWO semi-joins
    (never materializing node×edge products); per-round node/edge counts
    are the emitted convergence trace. Exact k-core iterates to a fixed
    point — 3 rounds is a documented truncation (the oracle unrolls the
    SAME 3 rounds, so the check is exact); the full loop is the
    pagerank-style driver loop with a scalar convergence collect. The
    edge list is `_copurchase_pairs`; each round's edge frame is
    localCheckpoint'ed so the next round plans over a LogicalRDD — the
    lineage-truncation requirement explained at the loop below."""
    pairs = _copurchase_pairs(spark, sf_dir)
    p = spark.sparkContext.defaultParallelism

    # DRIVER-LOOP form with LINEAGE TRUNCATION: each round's edge frame is
    # localCheckpoint'ed, so round r+1 plans over a LogicalRDD —
    # never over round r's expression tree. Without truncation each round
    # embeds the previous round's subtree 5× (the edge frame itself + two
    # keep-sets, each of whose degree agg embeds it twice): by round 3 the
    # plan holds ~125 copies of the basket chain and merely RENDERING it
    # (generateTreeString) OOMs a default-heap driver — persist() does not
    # help because cached plans still print their children. The per-round
    # trace is two O(1) scalar counts (the pagerank convergence-collect
    # discipline) — scale-safe at 100 TB.
    #
    # r11 folded both trace scalars into ONE aggregation (n_nodes =
    # count(*), n_edges = sum(d)/2 — exact: each u<v edge contributes 2 to
    # the degree total). r12 made the checkpoints LAZY (the
    # connected_components discipline); note that under AQE a lazy
    # localCheckpoint still executes its upstream stages at the call site
    # (toRdd materializes query stages), so laziness defers only the
    # final stage — the checkpoints below remain the lineage cut, not a
    # job saver.
    # r12 second pass (guide §1.2/§5, measured): the rounds are FIXED (no
    # convergence decision), so the driver never needs the per-round
    # scalars at all — the trace is returned as an IN-PLAN unionAll of
    # four one-row aggregates over the checkpointed round frames, with
    # n_edges = floor(sum(d)/2) computed as an expression (exact on the
    # u<v edge list, the r11 fold identity). The four per-round `.first()`
    # driver round-trips are gone; each round's checkpoint still truncates
    # lineage, and the final action reads only checkpoint blocks (four
    # cheap degree aggs + union). Row order stays round order: each agg
    # emits one row and unionAll concatenates in plan order.
    e = pairs.repartition(p, "u").localCheckpoint(eager=False)
    trace_rows: list[DataFrame] = []
    for rnd in range(4):
        deg = _degrees(e).localCheckpoint(eager=False)
        trace_rows.append(
            deg.agg(
                F.lit(rnd).cast("long").alias("round"),
                F.count(F.lit(1)).cast("long").alias("n_nodes"),
                F.expr(
                    "CAST(coalesce(sum(d), 0L) div 2 AS LONG)"
                ).alias("n_edges"),
            )
        )
        if rnd < 3:
            keep = deg.filter(F.col("d") >= 52).select("n")
            e = (
                e.join(keep.withColumnRenamed("n", "u"), "u", "left_semi")
                .join(keep.withColumnRenamed("n", "v"), "v", "left_semi")
                .select("u", "v")
                .localCheckpoint(eager=False)
            )
    out = trace_rows[0]
    for t in trace_rows[1:]:
        out = out.unionAll(t)
    return out.select("round", "n_nodes", "n_edges")


def _k_core_fp_oracle(k: int = 40, max_rounds: int = 12) -> str:
    """Unrolled-to-convergence DuckDB oracle for k_core_fixed_point:
    max_rounds peel rounds as MATERIALIZED CTE pairs (multi-referenced
    chains re-evaluate fully without MATERIALIZED — r7 memory), then the
    first round whose (nodes, edges) equal the NEXT round's is the fixed
    point. max_rounds exceeds the measured convergence depth (7 at both
    sf0.01 and sf0.1, k=40) with margin; if depth ever outgrew it the
    final pair would disagree with Spark's true fixed point and the gate
    would flag it — no silent truncation."""
    parts = [
        """WITH li AS MATERIALIZED (
           SELECT DISTINCT l.l_orderkey AS ok, l.l_partkey AS pk
           FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
           WHERE p.p_size <= 25),
    e0 AS MATERIALIZED (SELECT DISTINCT a.pk AS u, b.pk AS v
           FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
    d0 AS MATERIALIZED (SELECT n, CAST(count(*) AS BIGINT) AS d
           FROM (SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0) GROUP BY n)"""
    ]
    for r in range(1, max_rounds + 1):
        parts.append(
            f"""k{r - 1} AS (SELECT n FROM d{r - 1} WHERE d >= {k}),
    e{r} AS MATERIALIZED (SELECT e.u, e.v FROM e{r - 1} e
           JOIN k{r - 1} a ON e.u = a.n JOIN k{r - 1} b ON e.v = b.n),
    d{r} AS MATERIALIZED (SELECT n, CAST(count(*) AS BIGINT) AS d
           FROM (SELECT u AS n FROM e{r} UNION ALL SELECT v FROM e{r}) GROUP BY n)"""
        )
    counts = "\n    UNION ALL ".join(
        f"SELECT {r} AS rnd, (SELECT CAST(count(*) AS BIGINT) FROM d{r}) AS n_nodes,"
        f" (SELECT CAST(count(*) AS BIGINT) FROM e{r}) AS n_edges"
        for r in range(max_rounds + 1)
    )
    parts.append(f"counts AS ({counts})")
    return (
        ",\n    ".join(parts)
        + """
    SELECT CAST(c.rnd AS BIGINT) AS rounds, c.n_nodes, c.n_edges
    FROM counts c JOIN counts nx ON nx.rnd = c.rnd + 1
    WHERE c.n_nodes = nx.n_nodes AND c.n_edges = nx.n_edges
    ORDER BY c.rnd LIMIT 1
    """
    )


@register("k_core_fixed_point", _k_core_fp_oracle())
def k_core_fixed_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling TO THE FIXED POINT (k=40 — non-empty core with a
    7-round cascade at both tested scales; the k=52 sibling
    `k_core_copurchase` documents the 3-round truncated trace) — r7
    VERDICT #6. Emits ONE row: (rounds-to-converge, core nodes, core
    edges). The driver loop is the pagerank-style scalar convergence
    collect: each round fetches exactly two O(1) counts, each round's
    edge frame is localCheckpoint'ed so round r+1 plans over a LogicalRDD
    (without truncation the plan tree quintuples per round and merely
    rendering it OOMs the driver — see k_core_copurchase), and the loop
    stops when (nodes, edges) repeat. Depth grows slowly with scale
    (SCALE.md): peeling depth is bounded by the degeneracy ordering's
    layer count, empirically 7 at sf0.01 AND sf0.1 for k=40; the 30-round
    cap turns a runaway into a loud error, and the unrolled oracle's
    final-pair check makes silent truncation impossible."""
    k = 40
    pairs = _copurchase_pairs(spark, sf_dir)
    p = spark.sparkContext.defaultParallelism

    # r11 folded both trace scalars into ONE aggregation (n_nodes =
    # count(*), n_edges = sum(d)/2 — exact: each u<v edge contributes 2 to
    # the degree total). r12: the per-round edge and degree checkpoints
    # are LAZY (the connected_components discipline); under AQE a lazy
    # localCheckpoint still executes its upstream stages at the call site
    # (toRdd materializes query stages), so this defers only each
    # frame's final stage — the cut is for lineage, and the round's
    # driver work is the single folded stats collect. A 2-rounds-per-
    # collect batching with un-checkpointed degree frames was measured
    # wash-to-worse (the in-plan degree recomputation outweighs the
    # saved round-trips) and reverted — OPTIMIZATION_r12.md batch 4.
    def stats(deg: DataFrame) -> tuple[int, int]:
        row = deg.agg(
            F.count(F.lit(1)).alias("nn"), F.sum("d").alias("sd")
        ).first()
        return (int(row["nn"] or 0), int(row["sd"] or 0) // 2)

    e = pairs.repartition(p, "u").localCheckpoint(eager=False)
    deg = _degrees(e).localCheckpoint(eager=False)
    prev = stats(deg)
    rnd = 0
    while rnd < 30:
        keep = deg.filter(F.col("d") >= k).select("n")
        e2 = (
            e.join(keep.withColumnRenamed("n", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("n", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
        deg2 = _degrees(e2).localCheckpoint(eager=False)
        cur = stats(deg2)
        if cur == prev:
            break
        rnd += 1
        e, deg, prev = e2, deg2, cur
    else:
        raise RuntimeError(f"k-core peel did not converge within 30 rounds (k={k})")
    return spark.createDataFrame(
        [(rnd, prev[0], prev[1])], "rounds long, n_nodes long, n_edges long"
    )


@register(
    "status_runs_per_customer",
    """
    WITH o AS (
      SELECT o_custkey AS c, o_orderstatus AS st,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn,
             row_number() OVER (PARTITION BY o_custkey, o_orderstatus
                                ORDER BY o_orderdate, o_orderkey) AS rs
      FROM orders),
    runs AS (SELECT c, st, rn - rs AS grp, CAST(count(*) AS BIGINT) AS len
             FROM o GROUP BY c, st, rn - rs)
    SELECT st AS status, CAST(count(*) AS BIGINT) AS n_runs,
           round(avg(CAST(len AS DOUBLE)), 6) AS avg_run_len,
           CAST(max(len) AS BIGINT) AS max_run_len
    FROM runs GROUP BY st
    """,
)
def status_runs_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands run-length encoding of each customer's order-status
    sequence (the classic rn − rn-per-value grouping trick): consecutive
    same-status orders collapse to one run; the report aggregates run
    counts/lengths per status. Both row_numbers share ONE partition-by-
    customer sort (Catalyst reuses the exchange; the second window only
    sub-partitions), the run frame is grouped on (customer, status, grp) —
    everything keyed by customer, no global sort, linear at 100 TB."""
    o = _t(spark, sf_dir, "orders")
    wc = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ws = W.partitionBy("o_custkey", "o_orderstatus").orderBy(
        "o_orderdate", "o_orderkey"
    )
    runs = (
        o.select(
            F.col("o_custkey").alias("c"),
            F.col("o_orderstatus").alias("st"),
            (F.row_number().over(wc) - F.row_number().over(ws)).alias("grp"),
        )
        .groupBy("c", "st", "grp")
        .agg(F.count(F.lit(1)).cast("long").alias("len"))
    )
    return runs.groupBy(F.col("st").alias("status")).agg(
        F.count(F.lit(1)).cast("long").alias("n_runs"),
        F.round(F.avg(F.col("len").cast("double")), 6).alias("avg_run_len"),
        F.max("len").cast("long").alias("max_run_len"),
    )


@register(
    "graph_assortativity_copurchase",
    """
    WITH li AS MATERIALIZED (
           SELECT DISTINCT l.l_orderkey AS ok, l.l_partkey AS pk
           FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
           WHERE p.p_size <= 25),
    e0 AS MATERIALIZED (SELECT DISTINCT a.pk AS u, b.pk AS v
           FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
    d0 AS MATERIALIZED (SELECT n, CAST(count(*) AS BIGINT) AS d
           FROM (SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0) GROUP BY n),
    sym AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
    j AS (SELECT du.d AS dd_u, dv.d AS dd_v
          FROM sym JOIN d0 du ON sym.u = du.n JOIN d0 dv ON sym.v = dv.n)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM e0) AS n_edges,
           round(corr(CAST(dd_u AS DOUBLE), CAST(dd_v AS DOUBLE)), 6)
             AS assortativity
    FROM j
    """,
)
def graph_assortativity_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the part co-purchase graph: the Pearson
    correlation of endpoint degrees over the SYMMETRIZED edge list
    (Newman's r — negative means hubs attach to leaves, the usual retail
    shape). The edge list is `_copurchase_pairs` (the k-core/triangle
    family's, never node×edge); degrees are one keyed agg (`_degrees`);
    the corr is a single co-moment pass over edges joined to the (small)
    degree frame twice. corr partial-merge parity with DuckDB is pinned
    by corr_lineitem_metrics."""
    edges = (
        _copurchase_pairs(spark, sf_dir)
        # repartition BEFORE persist (cached relations freeze partitioning):
        # a bare session would otherwise run the whole chain at 200 tiny
        # shuffle partitions — measured 30 s vs 8 s at sf0.01
        .repartition(spark.sparkContext.defaultParallelism, "u")
        .persist()
    )
    deg = _degrees(edges)
    sym = edges.unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    j = (
        sym.join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "dd_u"), "u")
        .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dd_v"), "v")
    )
    n_edges = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        j.agg(
            F.round(
                F.corr(F.col("dd_u").cast("double"), F.col("dd_v").cast("double")), 6
            ).alias("assortativity")
        )
        .crossJoin(F.broadcast(n_edges))
        .select("n_edges", "assortativity")
    )


@register(
    "cramers_v_segment_priority",
    """
    WITH cell AS (
      SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
             CAST(count(*) AS BIGINT) AS c
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY seg, pri),
    rt AS (SELECT seg, CAST(sum(c) AS BIGINT) AS r FROM cell GROUP BY seg),
    ct AS (SELECT pri, CAST(sum(c) AS BIGINT) AS cc FROM cell GROUP BY pri),
    n AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                 CAST(count(DISTINCT seg) AS BIGINT) AS nr,
                 CAST(count(DISTINCT pri) AS BIGINT) AS nc
          FROM cell),
    chi AS (
      SELECT sum(pow(cell.c - CAST(rt.r AS DOUBLE) * ct.cc / n.n, 2)
                 / (CAST(rt.r AS DOUBLE) * ct.cc / n.n)) AS chi2
      FROM cell JOIN rt USING (seg) JOIN ct USING (pri), n)
    SELECT n.n, round(chi.chi2, 6) AS chi2,
           round(sqrt(chi.chi2 / (n.n * least(n.nr - 1, n.nc - 1))), 6)
             AS cramers_v
    FROM chi, n
    """,
)
def cramers_v_segment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for the segment×priority contingency — the
    normalized companion to chi2_segment_priority (chi² grows with N; V
    is comparable across table sizes). The fact tables reduce to a 25-cell
    contingency in one keyed agg; marginals, chi², and V are arithmetic
    over that tiny frame (broadcast joins, one-row output)."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cell = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist()
    )
    rt = cell.groupBy("seg").agg(F.sum("c").cast("long").alias("r"))
    ct = cell.groupBy("pri").agg(F.sum("c").cast("long").alias("cc"))
    n = cell.agg(
        F.sum("c").cast("long").alias("n"),
        F.countDistinct("seg").cast("long").alias("nr"),
        F.countDistinct("pri").cast("long").alias("nc"),
    )
    e = F.col("r").cast("double") * F.col("cc") / F.col("n")
    chi = (
        cell.join(F.broadcast(rt), "seg")
        .join(F.broadcast(ct), "pri")
        .crossJoin(F.broadcast(n))
        .agg(F.sum(F.pow(F.col("c") - e, F.lit(2)) / e).alias("chi2"))
    )
    return chi.crossJoin(F.broadcast(n)).select(
        "n",
        F.round("chi2", 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2")
                / (F.col("n") * F.least(F.col("nr") - 1, F.col("nc") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


@register(
    "wilson_ci_returns_by_nation",
    """
    WITH per_order AS (
      SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT) AS k
      FROM lineitem GROUP BY l_orderkey),
    nat AS (
      SELECT nn.n_name AS nation, CAST(sum(po.n) AS BIGINT) AS n,
             CAST(sum(po.k) AS BIGINT) AS k
      FROM per_order po
      JOIN orders o ON po.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation nn ON c.c_nationkey = nn.n_nationkey
      GROUP BY nn.n_name)
    SELECT nation, n, k,
           round(CAST(k AS DOUBLE) / n, 6) AS p_hat,
           round((CAST(k AS DOUBLE) / n + 1.96 * 1.96 / (2 * n)
                  - 1.96 * sqrt((CAST(k AS DOUBLE) / n) * (1 - CAST(k AS DOUBLE) / n) / n
                                + 1.96 * 1.96 / (4.0 * n * n)))
                 / (1 + 1.96 * 1.96 / n), 6) AS wilson_lo,
           round((CAST(k AS DOUBLE) / n + 1.96 * 1.96 / (2 * n)
                  + 1.96 * sqrt((CAST(k AS DOUBLE) / n) * (1 - CAST(k AS DOUBLE) / n) / n
                                + 1.96 * 1.96 / (4.0 * n * n)))
                 / (1 + 1.96 * 1.96 / n), 6) AS wilson_hi
    FROM nat
    """,
)
def wilson_ci_returns_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% score interval for the per-nation return rate — the
    small-sample-honest CI (a normal-approx interval goes negative on rare
    events). Scale shape: lineitem PARTIAL-AGGREGATES to per-order (n, k)
    counts BEFORE touching the dimension chain, so the 3-table join runs
    on the order-level frame (~4× smaller than lineitem, and the orders/
    customer/nation joins stay co-partitioned/broadcast); the interval is
    closed-form arithmetic on the 25-row nation frame."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(F.when(F.col("l_returnflag") == "R", 1)).cast("long").alias("k"),
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nn = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    nat = (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nn), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum("n").cast("long").alias("n"), F.sum("k").cast("long").alias("k"))
    )
    z = F.lit(1.96)
    p = F.col("k").cast("double") / F.col("n")
    z2n = z * z / F.col("n")
    center = p + z * z / (2 * F.col("n"))
    half = z * F.sqrt(
        p * (1 - p) / F.col("n") + z * z / (4.0 * F.col("n") * F.col("n"))
    )
    denom = 1 + z2n
    return nat.select(
        "nation",
        "n",
        "k",
        F.round(p, 6).alias("p_hat"),
        F.round((center - half) / denom, 6).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
    )


@register(
    "ts_donchian_channel_daily",
    """
    WITH d AS (
      SELECT o_orderdate AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM orders GROUP BY o_orderdate)
    SELECT day, rev_cents,
           CAST(max(rev_cents) OVER w7 AS BIGINT) AS ch_hi,
           CAST(min(rev_cents) OVER w7 AS BIGINT) AS ch_lo,
           coalesce(rev_cents > max(rev_cents) OVER wprev, FALSE) AS breakout_up,
           coalesce(rev_cents < min(rev_cents) OVER wprev, FALSE) AS breakout_dn
    FROM d
    WINDOW w7 AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
           wprev AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
    """,
)
def ts_donchian_channel_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Donchian channel (rolling 7-day high/low of daily revenue) with
    new-high/new-low breakout flags — the order-statistic band sibling of
    the σ-based anomaly detectors (ts_mad/ts_zscore): max/min over a ROWS
    frame are EXACT in integer cents, so the comparison is deterministic
    on any engine (a σ band on a rolling float sum is not). One keyed day
    agg; the ordered windows run on the tiny day frame (one row per day —
    the single-partition sort is bounded by the calendar, not the data)."""
    o = _t(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev_cents")
    )
    w7 = W.orderBy("day").rowsBetween(-6, 0)
    wprev = W.orderBy("day").rowsBetween(-6, -1)
    return d.select(
        "day",
        "rev_cents",
        F.max("rev_cents").over(w7).cast("long").alias("ch_hi"),
        F.min("rev_cents").over(w7).cast("long").alias("ch_lo"),
        F.coalesce(
            F.col("rev_cents") > F.max("rev_cents").over(wprev), F.lit(False)
        ).alias("breakout_up"),
        F.coalesce(
            F.col("rev_cents") < F.min("rev_cents").over(wprev), F.lit(False)
        ).alias("breakout_dn"),
    )


@register(
    "ts_rsi_14_daily",
    """
    WITH d AS (
      SELECT o_orderdate AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders GROUP BY o_orderdate),
    df AS (SELECT day, rev - lag(rev) OVER (ORDER BY day) AS diff FROM d),
    w AS (SELECT day,
                 CAST(count(diff) OVER f AS BIGINT) AS n_diffs,
                 CAST(sum(CASE WHEN diff > 0 THEN diff ELSE 0 END) OVER f
                      AS BIGINT) AS gain,
                 CAST(sum(CASE WHEN diff < 0 THEN -diff ELSE 0 END) OVER f
                      AS BIGINT) AS loss
          FROM df
          WINDOW f AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    SELECT day, gain AS gain_cents, loss AS loss_cents,
           CASE WHEN gain + loss = 0 THEN NULL
                ELSE round(100.0 * gain / (gain + loss), 6) END AS rsi
    FROM w WHERE n_diffs = 14
    """,
)
def ts_rsi_14_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day RSI (simple-average form, RSI = 100·ΣG/(ΣG+ΣL)) on daily
    revenue — the momentum oscillator of the ts_* family. INTEGER-EXACT:
    day-over-day diffs, gains and losses stay BIGINT cents until the one
    final division of identical operands, so float association order
    cannot flip a value. Rows emit only once the frame holds a full 14
    diffs (no warm-up noise); an all-flat window yields NULL, not a
    division error."""
    o = _t(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev")
    )
    wd = W.orderBy("day")
    df_ = d.select("day", (F.col("rev") - F.lag("rev").over(wd)).alias("diff"))
    f = W.orderBy("day").rowsBetween(-13, 0)
    w = df_.select(
        "day",
        F.count("diff").over(f).cast("long").alias("n_diffs"),
        F.sum(F.when(F.col("diff") > 0, F.col("diff")).otherwise(0))
        .over(f)
        .cast("long")
        .alias("gain"),
        F.sum(F.when(F.col("diff") < 0, -F.col("diff")).otherwise(0))
        .over(f)
        .cast("long")
        .alias("loss"),
    )
    return w.filter(F.col("n_diffs") == 14).select(
        "day",
        F.col("gain").alias("gain_cents"),
        F.col("loss").alias("loss_cents"),
        F.when(F.col("gain") + F.col("loss") == 0, F.lit(None)).otherwise(
            F.round(100.0 * F.col("gain") / (F.col("gain") + F.col("loss")), 6)
        ).alias("rsi"),
    )


@register(
    "jarque_bera_order_prices",
    """
    WITH x AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
               FROM orders),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(c) AS DOUBLE) / count(*) AS mu
          FROM x),
    cm AS (SELECT m.n, m.mu,
                  sum(pow(x.c - m.mu, 2)) / m.n AS m2,
                  sum(pow(x.c - m.mu, 3)) / m.n AS m3,
                  sum(pow(x.c - m.mu, 4)) / m.n AS m4
           FROM x, m GROUP BY m.n, m.mu)
    SELECT n,
           round(m3 / pow(m2, 1.5), 6) AS skewness,
           round(m4 / (m2 * m2) - 3, 6) AS excess_kurtosis,
           round(n / 6.0 * (pow(m3 / pow(m2, 1.5), 2)
                 + pow(m4 / (m2 * m2) - 3, 2) / 4.0), 2) AS jb_stat
    FROM cm
    """,
)
def jarque_bera_order_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque–Bera normality test on order prices (skewness + excess
    kurtosis → JB = n/6·(S² + K²/4)) — the distribution-shape audit next
    to ks_drift/benford. The mean is computed from an EXACT integer-cents
    sum (BIGINT → one double division of identical operands on both
    engines), so the centered moments share a bit-identical μ; the m2-m4
    sums are floats whose association-order wobble is ~1e-12 relative —
    absorbed by 6dp rounding on the O(1) shape stats and 2dp on the O(n)
    JB. Two passes over orders (mean, then moments), both scan-speed
    aggregations."""
    o = _t(spark, sf_dir, "orders")
    x = o.select(F.round(F.col("o_totalprice") * 100).cast("long").alias("c"))
    m = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum("c").cast("double") / F.count(F.lit(1))).alias("mu"),
    )
    cm = (
        x.crossJoin(F.broadcast(m))
        .groupBy("n", "mu")
        .agg(
            (F.sum(F.pow(F.col("c") - F.col("mu"), F.lit(2))) / F.col("n").cast("double")).alias("m2"),
            (F.sum(F.pow(F.col("c") - F.col("mu"), F.lit(3))) / F.col("n").cast("double")).alias("m3"),
            (F.sum(F.pow(F.col("c") - F.col("mu"), F.lit(4))) / F.col("n").cast("double")).alias("m4"),
        )
    )
    skew = F.col("m3") / F.pow(F.col("m2"), F.lit(1.5))
    kurt = F.col("m4") / (F.col("m2") * F.col("m2")) - 3
    return cm.select(
        "n",
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("excess_kurtosis"),
        F.round(
            F.col("n") / 6.0 * (F.pow(skew, F.lit(2)) + F.pow(kurt, F.lit(2)) / 4.0),
            2,
        ).alias("jb_stat"),
    )


@register(
    "woe_iv_segment_urgent",
    """
    WITH s AS (
      SELECT c.c_mktsegment AS seg,
             CAST(count(*) FILTER (WHERE o.o_orderpriority = '1-URGENT')
                  AS BIGINT) AS g,
             CAST(count(*) FILTER (WHERE o.o_orderpriority <> '1-URGENT')
                  AS BIGINT) AS b
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY seg),
    t AS (SELECT CAST(sum(g) AS BIGINT) AS gt, CAST(sum(b) AS BIGINT) AS bt
          FROM s)
    SELECT s.seg, s.g AS n_urgent, s.b AS n_other,
           round(ln((CAST(s.g AS DOUBLE) / t.gt)
                    / (CAST(s.b AS DOUBLE) / t.bt)), 6) AS woe,
           round((CAST(s.g AS DOUBLE) / t.gt - CAST(s.b AS DOUBLE) / t.bt)
                 * ln((CAST(s.g AS DOUBLE) / t.gt)
                      / (CAST(s.b AS DOUBLE) / t.bt)), 6) AS iv_contrib
    FROM s, t
    """,
)
def woe_iv_segment_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value screening of c_mktsegment
    for predicting urgent orders — the credit-scoring feature-selection
    classic (IV = Σ(g%−b%)·WoE; <0.02 means the feature is useless).
    Integer event/non-event counts per segment, one scalar total attach,
    closed-form logs — deterministic division of identical operands, one
    keyed agg over the joined fact."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    s = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1))
            .cast("long")
            .alias("g"),
            F.count(F.when(F.col("o_orderpriority") != "1-URGENT", 1))
            .cast("long")
            .alias("b"),
        )
    )
    t = s.agg(
        F.sum("g").cast("long").alias("gt"), F.sum("b").cast("long").alias("bt")
    )
    gr = F.col("g").cast("double") / F.col("gt")
    br = F.col("b").cast("double") / F.col("bt")
    woe = F.log(gr / br)
    return s.crossJoin(F.broadcast(t)).select(
        "seg",
        F.col("g").alias("n_urgent"),
        F.col("b").alias("n_other"),
        F.round(woe, 6).alias("woe"),
        F.round((gr - br) * woe, 6).alias("iv_contrib"),
    )


@register(
    "tokenizer_fertility_by_lang",
    r"""
    WITH t AS (
      SELECT lang,
             CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+'))
                  AS BIGINT) AS n_tok,
             CAST(len(list_filter(string_split(trim(regexp_replace(
                    regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                    '\s+', ' ', 'g')), ' '), x -> x <> '')) AS BIGINT)
               AS n_words
      FROM documents)
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(sum(n_words) AS BIGINT) AS n_words,
           round(CAST(sum(n_tok) AS DOUBLE) / sum(n_words), 6) AS fertility
    FROM t GROUP BY lang
    """,
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility (subword-ish tokens per whitespace word) per
    language — THE capacity metric when sizing a tokenizer for a
    multilingual corpus (high fertility = wasted context window).
    Fertility is computed as Σtokens/Σwords per language (integer sums,
    ONE division), never as an average of per-doc float ratios whose
    association order differs across engines. Pure per-row JVM regex
    counting + one keyed agg — scan speed at 100 TB."""
    from windflow_spark.functions.text import normalize_text

    docs = _t_wide(spark, sf_dir, "documents")
    words = F.filter(F.split(normalize_text("text"), " "), lambda x: x != F.lit(""))
    t = docs.select(
        "lang",
        F.size(F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+|[0-9]+"), 0))
        .cast("long")
        .alias("n_tok"),
        F.size(words).cast("long").alias("n_words"),
    )
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.round(F.sum("n_tok").cast("double") / F.sum("n_words"), 6).alias(
            "fertility"
        ),
    )


@register(
    "bigram_entropy_by_source",
    r"""
    WITH t AS (
      SELECT source,
             list_filter(string_split(trim(regexp_replace(regexp_replace(
               lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')), ' '),
               x -> x <> '') AS toks
      FROM documents),
    bg AS (SELECT source, u.b.u AS u, u.b.v AS v
           FROM (SELECT source,
                        [{'u': toks[i], 'v': toks[i+1]}
                         for i in generate_series(1, len(toks) - 1)] AS bs
                 FROM t WHERE len(toks) >= 2) s, unnest(s.bs) AS u(b)),
    cuv AS (SELECT source, u, v, CAST(count(*) AS BIGINT) AS c
            FROM bg GROUP BY source, u, v),
    cu AS (SELECT source, u, CAST(sum(c) AS BIGINT) AS cu
           FROM cuv GROUP BY source, u),
    n AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cuv GROUP BY source)
    SELECT cuv.source, n.n AS n_bigrams,
           round(sum(cuv.c * ln(CAST(cu.cu AS DOUBLE) / cuv.c)) / n.n, 6)
             AS cond_entropy
    FROM cuv JOIN cu ON cuv.source = cu.source AND cuv.u = cu.u
             JOIN n ON cuv.source = n.source
    GROUP BY cuv.source, n.n
    """,
)
def bigram_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram entropy H(next|current) per source — the
    sequence-predictability score of a corpus slice (low entropy =
    templated/boilerplate text; the bigram-level companion to
    user_predictability_entropy and lm_perplexity_scores). Bigrams are
    generated IN-ROW (zip_with over the token array, no self-join), counts
    stay integers through two keyed aggs, and H = Σ c_uv·ln(c_u/c_uv)/N
    runs over the (source,u)-joined count frame — logs of exact integer
    ratios, association wobble absorbed by 6dp."""
    from windflow_spark.functions.text import normalize_text

    docs = _t_wide(spark, sf_dir, "documents")
    toks = F.filter(F.split(normalize_text("text"), " "), lambda x: x != F.lit(""))
    t = docs.select("source", toks.alias("toks")).filter(F.size("toks") >= 2)
    bg = t.select(
        "source",
        F.explode(
            F.zip_with(
                F.slice(F.col("toks"), 1, F.size("toks") - 1),
                F.slice(F.col("toks"), 2, F.size("toks") - 1),
                lambda a, b: F.struct(a.alias("u"), b.alias("v")),
            )
        ).alias("b"),
    ).select("source", "b.u", "b.v")
    cuv = bg.groupBy("source", "u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    cu = cuv.groupBy("source", "u").agg(F.sum("c").cast("long").alias("cu"))
    n = cuv.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    return (
        cuv.join(cu, ["source", "u"])
        .join(F.broadcast(n), "source")
        .groupBy("source", F.col("n").alias("n_bigrams"))
        .agg(
            F.round(
                F.sum(F.col("c") * F.log(F.col("cu").cast("double") / F.col("c")))
                / F.first("n"),
                6,
            ).alias("cond_entropy")
        )
        .select("source", "n_bigrams", "cond_entropy")
    )


@register(
    "multimodal_audio_frames",
    """
    WITH m AS (SELECT doc_id AS media_id,
                      CAST(octet_length(encode(text)) AS BIGINT) AS nbytes
               FROM documents),
    f AS (SELECT media_id, nbytes // 2 AS n_samples,
                 CASE WHEN nbytes // 2 >= 64
                      THEN (nbytes // 2 - 64) // 16 + 1 ELSE 0 END AS n_frames
          FROM m)
    SELECT media_id, CAST(u.f AS BIGINT) AS frame_idx,
           CAST(u.f * 16 AS BIGINT) AS start_sample,
           CAST(n_samples AS BIGINT) AS n_samples
    FROM f, unnest(generate_series(0, CAST(n_frames - 1 AS BIGINT))) AS u(f)
    WHERE n_frames > 0
    """,
)
def multimodal_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio analysis-frame fan-out over the derived binary column: the
    payload read as 16-bit PCM, overlapping 64-sample windows every 16
    samples (the STFT window/hop shape, sized to the synthetic payloads;
    400/160 at 16kHz in production) — the front end of every
    speech featurizer. Real decode needs ffmpeg (stubbed, documented);
    the frame arithmetic and explode-parallel fan-out are the real
    Spark-side contract (frames never pass through the driver)."""
    from windflow_spark.functions.multimodal import attach_binary_metadata, audio_frame_stub

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("payload")
    )
    meta = attach_binary_metadata(docs)
    framed = audio_frame_stub(meta, window_samples=64, hop_samples=16)
    return framed.select("media_id", "frame_idx", "start_sample", "n_samples")


@register(
    "gains_table_deciles",
    """
    WITH d AS (
      SELECT ntile(10) OVER (ORDER BY o_totalprice DESC, o_orderkey) AS decile,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
      FROM orders),
    g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS n_pos
          FROM d GROUP BY decile),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(n_pos) AS BIGINT) AS pt
          FROM g),
    c AS (SELECT decile, n, n_pos,
                 CAST(sum(n) OVER wo AS BIGINT) AS cum_n,
                 CAST(sum(n_pos) OVER wo AS BIGINT) AS cum_pos
          FROM g WINDOW wo AS (ORDER BY decile
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT c.decile, c.n, c.n_pos,
           round(CAST(c.cum_pos AS DOUBLE) / t.pt, 6) AS capture_rate,
           round((CAST(c.cum_pos AS DOUBLE) / c.cum_n)
                 / (CAST(t.pt AS DOUBLE) / t.nt), 6) AS cum_lift
    FROM c, t
    """,
)
def gains_table_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains table / cumulative-lift deciles: orders scored by price
    (desc, orderkey tie-break for a deterministic total order), urgent
    orders as the positive label — the model-evaluation table every
    targeting team reads. SCALE CAVEAT (the mannwhitney lesson): global
    ntile is a single-partition sort; at 100 TB replace with a two-pass
    range-partitioned rank or quantile-boundary bucketing. The cumulative
    stats run on the 10-row decile frame."""
    o = _t(spark, sf_dir, "orders")
    d = o.select(
        F.ntile(10)
        .over(W.orderBy(F.col("o_totalprice").desc(), "o_orderkey"))
        .alias("decile"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("y"),
    )
    g = d.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    t = g.agg(
        F.sum("n").cast("long").alias("nt"), F.sum("n_pos").cast("long").alias("pt")
    )
    wo = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    c = g.select(
        "decile",
        "n",
        "n_pos",
        F.sum("n").over(wo).cast("long").alias("cum_n"),
        F.sum("n_pos").over(wo).cast("long").alias("cum_pos"),
    )
    return c.crossJoin(F.broadcast(t)).select(
        "decile",
        "n",
        "n_pos",
        F.round(F.col("cum_pos").cast("double") / F.col("pt"), 6).alias(
            "capture_rate"
        ),
        F.round(
            (F.col("cum_pos").cast("double") / F.col("cum_n"))
            / (F.col("pt").cast("double") / F.col("nt")),
            6,
        ).alias("cum_lift"),
    )


@register(
    "price_quartiles_by_segment",
    """
    WITH j AS (
      SELECT c.c_mktsegment AS seg, o.o_totalprice AS v
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    q AS (SELECT seg, CAST(count(*) AS BIGINT) AS n,
                 quantile_cont(v, 0.25) AS p25,
                 quantile_cont(v, 0.5) AS p50,
                 quantile_cont(v, 0.75) AS p75
          FROM j GROUP BY seg)
    SELECT q.seg, q.n, q.p25, q.p50, q.p75,
           CAST(count(*) FILTER (WHERE j.v > q.p75 + 1.5 * (q.p75 - q.p25))
                AS BIGINT) AS n_outliers_hi
    FROM j JOIN q USING (seg)
    GROUP BY q.seg, q.n, q.p25, q.p50, q.p75
    """,
)
def price_quartiles_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment exact price quartiles + Tukey-fence high-outlier count
    — the grouped box-plot backbone (the existing percentile queries are
    all global). Spark percentile ≡ DuckDB quantile_cont bit-exact
    (linear interpolation on the sorted group). Two passes over the
    joined fact: one grouped percentile agg (5 segments), then the tiny
    quartile frame broadcasts back for the fence count — no global
    sort."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"), F.col("o_totalprice").alias("v")
    )
    q = j.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.percentile("v", F.lit(0.25)).alias("p25"),
        F.percentile("v", F.lit(0.5)).alias("p50"),
        F.percentile("v", F.lit(0.75)).alias("p75"),
    )
    return (
        j.join(F.broadcast(q), "seg")
        .groupBy("seg", "n", "p25", "p50", "p75")
        .agg(
            F.count(
                F.when(
                    F.col("v") > F.col("p75") + 1.5 * (F.col("p75") - F.col("p25")),
                    1,
                )
            )
            .cast("long")
            .alias("n_outliers_hi")
        )
    )


@register(
    "minhash_jaccard_calibration",
    """
    WITH d AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents),
    s AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(toks) - 2),
                 i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh
      FROM d WHERE len(toks) >= 3),
    bs AS (
      SELECT doc_id, sh,
             list_transform(sh, s -> [
               ('0x' || substr(md5(s), 1, 15))::BIGINT,
               ('0x' || substr(md5(s), 16, 14))::BIGINT
             ]) AS base
      FROM s),
    g AS (
      SELECT doc_id, [
        list_aggregate(list_transform(base, x -> x[1] + 0 * x[2]), 'min'),
        list_aggregate(list_transform(base, x -> x[1] + 1 * x[2]), 'min'),
        list_aggregate(list_transform(base, x -> x[1] + 2 * x[2]), 'min'),
        list_aggregate(list_transform(base, x -> x[1] + 3 * x[2]), 'min'),
        list_aggregate(list_transform(base, x -> x[1] + 4 * x[2]), 'min'),
        list_aggregate(list_transform(base, x -> x[1] + 5 * x[2]), 'min'),
        list_aggregate(list_transform(base, x -> x[1] + 6 * x[2]), 'min'),
        list_aggregate(list_transform(base, x -> x[1] + 7 * x[2]), 'min'),
        list_aggregate(list_transform(base, x -> x[1] + 8 * x[2]), 'min'),
        list_aggregate(list_transform(base, x -> x[1] + 9 * x[2]), 'min'),
        list_aggregate(list_transform(base, x -> x[1] + 10 * x[2]), 'min'),
        list_aggregate(list_transform(base, x -> x[1] + 11 * x[2]), 'min'),
        list_aggregate(list_transform(base, x -> x[1] + 12 * x[2]), 'min'),
        list_aggregate(list_transform(base, x -> x[1] + 13 * x[2]), 'min'),
        list_aggregate(list_transform(base, x -> x[1] + 14 * x[2]), 'min'),
        list_aggregate(list_transform(base, x -> x[1] + 15 * x[2]), 'min'),
        list_aggregate(list_transform(base, x -> x[1] + 16 * x[2]), 'min'),
        list_aggregate(list_transform(base, x -> x[1] + 17 * x[2]), 'min'),
        list_aggregate(list_transform(base, x -> x[1] + 18 * x[2]), 'min'),
        list_aggregate(list_transform(base, x -> x[1] + 19 * x[2]), 'min'),
        list_aggregate(list_transform(base, x -> x[1] + 20 * x[2]), 'min'),
        list_aggregate(list_transform(base, x -> x[1] + 21 * x[2]), 'min'),
        list_aggregate(list_transform(base, x -> x[1] + 22 * x[2]), 'min'),
        list_aggregate(list_transform(base, x -> x[1] + 23 * x[2]), 'min'),
        list_aggregate(list_transform(base, x -> x[1] + 24 * x[2]), 'min'),
        list_aggregate(list_transform(base, x -> x[1] + 25 * x[2]), 'min'),
        list_aggregate(list_transform(base, x -> x[1] + 26 * x[2]), 'min'),
        list_aggregate(list_transform(base, x -> x[1] + 27 * x[2]), 'min'),
        list_aggregate(list_transform(base, x -> x[1] + 28 * x[2]), 'min'),
        list_aggregate(list_transform(base, x -> x[1] + 29 * x[2]), 'min'),
        list_aggregate(list_transform(base, x -> x[1] + 30 * x[2]), 'min'),
        list_aggregate(list_transform(base, x -> x[1] + 31 * x[2]), 'min')
      ] AS sig FROM bs),
    b AS (
      SELECT doc_id, j AS band,
             md5(concat_ws(',', sig[j*4+1], sig[j*4+2], sig[j*4+3], sig[j*4+4])) AS bucket
      FROM g, generate_series(0, 7) AS t(j)),
    p AS (
      SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      FROM b a JOIN b b2
        ON a.band = b2.band AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id),
    jac AS (
      SELECT id_a, id_b,
             round(len(list_intersect(sa.sh, sb.sh))::DOUBLE
                   / len(list_distinct(list_concat(sa.sh, sb.sh))), 4) AS jaccard,
             len([i for i in generate_series(1, 32)
                  if ga.sig[i] = gb.sig[i]]) / 32.0 AS est
      FROM p JOIN s sa ON p.id_a = sa.doc_id JOIN s sb ON p.id_b = sb.doc_id
             JOIN g ga ON p.id_a = ga.doc_id JOIN g gb ON p.id_b = gb.doc_id)
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(abs(est - jaccard)), 6) AS mae,
           round(max(abs(est - jaccard)), 6) AS max_abs_err,
           round(avg(est - jaccard), 6) AS bias,
           round(corr(est, jaccard), 6) AS corr_est_exact
    FROM jac
""",
)
def minhash_jaccard_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ESTIMATOR calibration over the LSH candidate pairs: the
    signature-agreement estimate (matching components / 32) against the
    exact shingle-set Jaccard — MAE, worst error, signed bias, and the
    est↔exact correlation. dedup_lsh_recall measures whether LSH FINDS the
    true pairs; this measures whether the signatures SCORE them right —
    the second number a dedup-threshold decision needs (a biased estimator
    silently moves the effective threshold). Candidates stay
    bucket-generated (never all-pairs); the signature frame joins back by
    id; every per-pair quantity is an exact rational (k/32 and |∩|/|∪|),
    so 6dp rounding absorbs aggregation association order."""
    from windflow_spark.functions.dedup import minhash_lsh_jaccard

    docs = _t(spark, sf_dir, "documents")
    # r12 (guide §2.4, measured): with_est=True rides the signature mins
    # on the fused pipeline's existing melt join — the old shape re-ran a
    # SECOND tokenize→shingle→md5→min-agg pipeline (shingle_sets +
    # minhash_signatures_agg) and two id-keyed joins just to recover the
    # same 32 mins the band buckets were already derived from.
    scored = minhash_lsh_jaccard(
        docs, num_hashes=32, bands=8, hash_mode="md5", with_est=True
    ).select("est", "jaccard")
    corr = F.corr("est", "jaccard")
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(F.avg(F.abs(F.col("est") - F.col("jaccard"))), 6).alias("mae"),
        F.round(F.max(F.abs(F.col("est") - F.col("jaccard"))), 6).alias(
            "max_abs_err"
        ),
        F.round(F.avg(F.col("est") - F.col("jaccard")), 6).alias("bias"),
        F.when(F.isnan(corr), F.lit(None)).otherwise(F.round(corr, 6)).alias(
            "corr_est_exact"
        ),
    )


@register(
    "levene_bf_segments",
    """
    WITH j AS (
      SELECT c.c_mktsegment AS seg, o.o_totalprice AS x
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    med AS (SELECT seg, quantile_cont(x, 0.5) AS md FROM j GROUP BY seg),
    z AS (SELECT j.seg, abs(j.x - med.md) AS z
          FROM j JOIN med USING (seg)),
    g AS (SELECT seg, CAST(count(*) AS BIGINT) AS n, avg(z) AS m,
                 var_samp(z) AS v
          FROM z GROUP BY seg),
    t AS (SELECT CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(n) AS BIGINT) AS n_total,
                 sum(n * m) / sum(n) AS gm,
                 sum(v * (n - 1)) AS ssw
          FROM g),
    b AS (SELECT t.k, t.n_total,
                 sum(g.n * (g.m - t.gm) * (g.m - t.gm)) AS ssb,
                 max(t.ssw) AS ssw
          FROM g CROSS JOIN t GROUP BY t.k, t.n_total)
    SELECT k, n_total,
           round((ssb / (k - 1)) / (ssw / (n_total - k)), 4) AS bf_stat
    FROM b
    """,
)
def levene_bf_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe (median-centered Levene) test for equal VARIANCES
    across market segments — the precondition check for anova_f_segments
    (classic ANOVA assumes homoscedasticity; BF is its robust gatekeeper).
    Absolute deviations from the EXACT per-segment median (percentile ≡
    quantile_cont bit-exact) feed the same one-moment-pass F recipe as
    the ANOVA query: per-segment (n, mean, var) of z, `_one_way_anova`
    on the 5-row frame. Two fact passes (median, then deviations), both
    keyed aggs."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"), F.col("o_totalprice").alias("x")
    )
    med = j.groupBy("seg").agg(F.percentile("x", F.lit(0.5)).alias("md"))
    z = j.join(F.broadcast(med), "seg").select(
        "seg", F.abs(F.col("x") - F.col("md")).alias("z")
    )
    g = z.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("z").alias("m"),
        F.var_samp("z").alias("v"),
    )
    b = _one_way_anova(g)
    return b.select(
        "k",
        "n_total",
        F.round(
            (F.col("ssb") / (F.col("k") - 1))
            / (F.col("ssw") / (F.col("n_total") - F.col("k"))),
            4,
        ).alias("bf_stat"),
    )


@register(
    "poisson_dispersion_daily",
    """
    WITH d AS (SELECT o_orderdate AS day, CAST(count(*) AS BIGINT) AS x
               FROM orders GROUP BY o_orderdate),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS s1,
                 CAST(sum(x * x) AS BIGINT) AS s2
          FROM d)
    SELECT n, s1 AS total_orders,
           round(CAST(s1 AS DOUBLE) / n, 6) AS mean_per_day,
           round((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
                 / (CAST(n AS DOUBLE) * (n - 1)), 6) AS var_per_day,
           round(((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
                  / (CAST(n AS DOUBLE) * (n - 1)))
                 / (CAST(s1 AS DOUBLE) / n), 6) AS dispersion_index,
           round((n - 1) * ((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
                  / (CAST(n AS DOUBLE) * (n - 1)))
                 / (CAST(s1 AS DOUBLE) / n), 4) AS chi2_stat
    FROM s
    """,
)
def poisson_dispersion_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson dispersion (variance-to-mean) test on daily order counts —
    the over/under-dispersion audit that decides whether a Poisson arrival
    model (and its staffing/capacity math) is even admissible. FULLY
    integer-exact inputs: n, Σx, Σx² are BIGINT (daily counts are small),
    variance uses the n·Σx² − (Σx)² identity with the float conversion
    only at the final divisions of identical operands — bit-identical
    across engines before the 6dp rounding."""
    o = _t(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    s = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
    )
    n = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    var = (n * F.col("s2") - s1 * F.col("s1")) / (n * (F.col("n") - 1))
    mean = s1 / F.col("n")
    return s.select(
        "n",
        F.col("s1").alias("total_orders"),
        F.round(mean, 6).alias("mean_per_day"),
        F.round(var, 6).alias("var_per_day"),
        F.round(var / mean, 6).alias("dispersion_index"),
        F.round((F.col("n") - 1) * var / mean, 4).alias("chi2_stat"),
    )


@register(
    "session_duration_percentiles",
    f"""
    WITH s AS (
      SELECT user_id, epoch_us(ts) AS us, event_id,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {US_30MIN}
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    g AS (
      SELECT user_id, us,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS sid
      FROM s),
    sess AS (
      SELECT user_id, sid, max(us) - min(us) AS dur_us,
             CAST(count(*) AS BIGINT) AS cnt
      FROM g GROUP BY user_id, sid)
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(*) FILTER (WHERE cnt > 1) AS BIGINT) AS n_multi_event,
           quantile_cont(dur_us, 0.5) AS p50_us,
           quantile_cont(dur_us, 0.9) AS p90_us,
           CAST(max(dur_us) AS BIGINT) AS max_us
    FROM sess
    """,
)
def session_duration_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/max of 30-minute-gap session DURATIONS — the
    distributional companion to session_bounce_daily's daily means (a
    mean hides the bimodal bounce-vs-binge shape every engagement team
    cares about). Same two-window session assignment; durations stay
    integer micros; Spark percentile ≡ DuckDB quantile_cont bit-exact."""
    from windflow_spark.operators.timeutil import event_micros
    from windflow_spark.operators.windows import session_window_agg

    ev = _t(spark, sf_dir, "events")
    ev_us = ev.withColumn("_us", event_micros(ev, "ts"))
    sess = session_window_agg(
        ev_us,
        key_cols=["user_id"],
        ts_col="ts",
        order_cols=["ts", "event_id"],
        gap_us=US_30MIN,
        aggs=[
            (F.max("_us") - F.min("_us")).alias("dur_us"),
            F.count(F.lit(1)).cast("long").alias("cnt"),
        ],
    )
    return sess.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.count(F.when(F.col("cnt") > 1, 1)).cast("long").alias("n_multi_event"),
        F.percentile("dur_us", F.lit(0.5)).alias("p50_us"),
        F.percentile("dur_us", F.lit(0.9)).alias("p90_us"),
        F.max("dur_us").cast("long").alias("max_us"),
    )


@register(
    "embedding_dim_variance_topk",
    """
    WITH x AS (
      SELECT u.i - 1 AS dim, CAST(embedding[u.i] AS DOUBLE) AS v
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)),
    g AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
                 round(avg(v), 6) AS mean_v, round(var_samp(v), 6) AS var_v
          FROM x GROUP BY dim),
    r AS (SELECT dim, n, mean_v, var_v,
                 row_number() OVER (ORDER BY var_v DESC, dim) AS rk
          FROM g)
    SELECT CAST(dim AS BIGINT) AS dim, n, mean_v, var_v
    FROM r WHERE rk <= 10
    """,
)
def embedding_dim_variance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 highest-variance embedding dimensions — the dimension-
    selection diagnostic behind Matryoshka truncation and PQ subspace
    allocation (low-variance dims carry nothing worth quantizing).
    posexplode keeps the per-dim pass scan-parallel; ranking happens on
    the dim-count-sized frame with variance ROUNDED BEFORE the rank so
    cross-engine float wobble cannot flip the top-10 boundary (the
    tfidf_top_terms tie discipline), dim as the total-order tie-break."""
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.select(F.posexplode("embedding").alias("dim", "v")).select(
        "dim", F.col("v").cast("double").alias("v")
    )
    g = x.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg("v"), 6).alias("mean_v"),
        F.round(F.var_samp("v"), 6).alias("var_v"),
    )
    r = g.select(
        "dim",
        "n",
        "mean_v",
        "var_v",
        F.row_number()
        .over(W.orderBy(F.col("var_v").desc(), "dim"))
        .alias("rk"),
    )
    return r.filter(F.col("rk") <= 10).select(
        F.col("dim").cast("long").alias("dim"), "n", "mean_v", "var_v"
    )


@register(
    "vocab_coverage_curve",
    r"""
    WITH t AS (
      SELECT u.tok FROM (
        SELECT list_filter(string_split(trim(regexp_replace(regexp_replace(
                 lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')), ' '),
                 x -> x <> '') AS toks
        FROM documents) d, unnest(d.toks) AS u(tok)),
    v AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY tok),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS vocab
            FROM v),
    r AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rk,
                 sum(c) OVER (ORDER BY c DESC, tok
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM v)
    SELECT CAST(r.rk AS BIGINT) AS vocab_size,
           CAST(r.cum AS BIGINT) AS tokens_covered,
           round(CAST(r.cum AS DOUBLE) / tot.n, 6) AS coverage,
           tot.vocab AS total_vocab
    FROM r, tot WHERE r.rk IN (10, 100, 1000)
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what share of all token OCCURRENCES the
    top-10/100/1000 most frequent types cover — the tokenizer-budget
    companion to heaps_law (Heaps says how vocab grows; this says what a
    fixed vocab BUYS). Integer counts, cumulative sum over the ranked
    vocab frame (deterministic (count desc, token) total order), one
    division per emitted row. The ordered window runs on the vocab frame
    (types, not occurrences) — bounded by vocabulary, not corpus size."""
    from windflow_spark.functions.text import normalize_text

    docs = _t_wide(spark, sf_dir, "documents")
    toks = F.filter(F.split(normalize_text("text"), " "), lambda x: x != F.lit(""))
    v = (
        docs.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = v.agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
    )
    wr = W.orderBy(F.col("c").desc(), "tok")
    r = v.select(
        "c",
        F.row_number().over(wr).alias("rk"),
        F.sum("c").over(wr.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("cum"),
    )
    return (
        r.filter(F.col("rk").isin(10, 100, 1000))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("rk").cast("long").alias("vocab_size"),
            F.col("cum").cast("long").alias("tokens_covered"),
            F.round(F.col("cum").cast("double") / F.col("n"), 6).alias("coverage"),
            F.col("vocab").alias("total_vocab"),
        )
    )


@register(
    "shingle_df_histogram",
    """
    WITH d AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents),
    s AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(toks) - 2),
                 i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh
      FROM d WHERE len(toks) >= 3),
    df AS (SELECT u.s AS shingle, CAST(count(*) AS BIGINT) AS df
           FROM s, unnest(sh) AS u(s) GROUP BY u.s)
    SELECT CAST(length(bin(df)) - 1 AS BIGINT) AS log2_df_bucket,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(df) AS BIGINT) AS n_postings,
           CAST(max(df) AS BIGINT) AS max_df
    FROM df GROUP BY log2_df_bucket
    """,
)
def shingle_df_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle document-frequency histogram in log2 buckets — THE hot-
    bucket risk diagnostic for every shingle-keyed dedup path (a bucket
    at 2^k df contributes ~df² candidate pairs in a naive inverted-index
    join; this is the number that justified the prefix filter and the
    LSH bucket caps). Same 3-token shingle definition as the minhash
    family. Bucket = bit-length − 1 (integer floor(log2) on BOTH engines
    — a float log2 can land on 2.999… and floor differently per libm)."""
    from windflow_spark.functions.dedup import shingle_stream

    docs = _t(spark, sf_dir, "documents")
    df_ = (
        shingle_stream(docs, "doc_id", "text", 3)
        # per-doc DISTINCT before the df count: a shingle repeated inside
        # one doc is one posting, matching the oracle's list_distinct sets
        .dropDuplicates(["doc_id", "_s"])
        .groupBy("_s")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    return (
        df_.groupBy(
            (F.length(F.bin("df")) - 1).cast("long").alias("log2_df_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum("df").cast("long").alias("n_postings"),
            F.max("df").cast("long").alias("max_df"),
        )
    )


# ---------------------------------------------------------------------------
# r9 wave 1: regression / autocorrelation diagnostics and technical
# indicators (compositions of the keyed-fold + integer-window disciplines)
# ---------------------------------------------------------------------------


@register(
    "ols_price_on_qty_by_brand",
    """
    WITH j AS (
      SELECT p.p_brand AS brand, l.l_quantity AS x, l.l_extendedprice AS y
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    g AS (
      SELECT brand, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * x AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(x * y AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(y * y AS DECIMAL(28,6))) AS DOUBLE) AS syy
      FROM j GROUP BY brand),
    s AS (
      SELECT brand, n,
             CAST(n AS DOUBLE) * sxy - sx * sy AS cov_n,
             CAST(n AS DOUBLE) * sxx - sx * sx AS varx_n,
             CAST(n AS DOUBLE) * syy - sy * sy AS vary_n,
             sx, sy
      FROM g)
    SELECT brand, n,
           round(cov_n / varx_n, 6) AS slope,
           round((sy - (cov_n / varx_n) * sx) / n, 6) AS intercept,
           round((cov_n * cov_n) / (varx_n * vary_n), 6) AS r2
    FROM s
    """,
)
def ols_price_on_qty_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand simple OLS of extended price on quantity (slope,
    intercept, R²) from the closed-form moment sums — the regression
    sibling of corr_lineitem_metrics. Cross-engine exactness: every moment
    (Σx, Σy, Σx², Σxy, Σy²) accumulates as DECIMAL (order-independent;
    the per-row double products are cast half-away-from-zero identically
    on both engines, the _dsum discipline), and the slope/intercept/R²
    algebra then runs on identical doubles. One scan, one keyed exchange
    (brand agg after a broadcast part join) — at 100 TB this is a single
    map-side-combined aggregation over the fact table."""
    li = _t_wide(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(
        F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")
    ).select(
        F.col("p_brand").alias("brand"),
        F.col("l_quantity").alias("x"),
        F.col("l_extendedprice").alias("y"),
    )
    g = j.groupBy("brand").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(18,6)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(18,6)")).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(18,6)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(18,6)"))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(28,6)"))
        .cast("double")
        .alias("syy"),
    )
    nd = F.col("n").cast("double")
    s = g.select(
        "brand",
        "n",
        (nd * F.col("sxy") - F.col("sx") * F.col("sy")).alias("cov_n"),
        (nd * F.col("sxx") - F.col("sx") * F.col("sx")).alias("varx_n"),
        (nd * F.col("syy") - F.col("sy") * F.col("sy")).alias("vary_n"),
        "sx",
        "sy",
    )
    return s.select(
        "brand",
        "n",
        F.round(F.col("cov_n") / F.col("varx_n"), 6).alias("slope"),
        F.round(
            (F.col("sy") - (F.col("cov_n") / F.col("varx_n")) * F.col("sx"))
            / F.col("n"),
            6,
        ).alias("intercept"),
        F.round(
            (F.col("cov_n") * F.col("cov_n"))
            / (F.col("varx_n") * F.col("vary_n")),
            6,
        ).alias("r2"),
    )


@register(
    "durbin_watson_daily_events",
    f"""
    WITH c AS (
      SELECT event_type,
             CAST(epoch_us(ts) // {US_DAY} AS BIGINT) AS bidx,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    w AS (
      SELECT event_type, bidx, cnt,
             cnt - lag(cnt) OVER (PARTITION BY event_type ORDER BY bidx) AS d,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
             CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS sx
      FROM c)
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_days,
           CASE WHEN sum((n * cnt - sx) * (n * cnt - sx)) > 0 THEN
             round(CAST(max(n) * max(n) * sum(d * d) AS DOUBLE)
                   / CAST(sum((n * cnt - sx) * (n * cnt - sx)) AS DOUBLE), 6)
           END AS dw_stat
    FROM w GROUP BY event_type
    """,
)
def durbin_watson_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin–Watson serial-correlation statistic of each type's daily
    event-count series (DW ≈ 2 → no lag-1 autocorrelation; < 2 →
    positive). INTEGER-EXACT until the single final division: with
    residuals about the mean, DW = Σ(x_t − x_prev)² / Σ(x_t − Sx/n)²
    = n²·Σd² / Σ(n·x_t − Sx)² — numerator and denominator are BIGINT
    sums of integer squares, so both engines divide identical integers.
    Two keyed exchanges: the (type, day) bucket agg, then one per-type
    partitioning shared by the lag/total windows and the final agg over
    the days-sized frame."""
    c = _daily_event_counts(spark, sf_dir)
    wt = W.partitionBy("event_type")
    w = c.select(
        "event_type",
        "cnt",
        (F.col("cnt") - F.lag("cnt").over(wt.orderBy("bidx"))).alias("d"),
        F.count(F.lit(1)).over(wt).cast("long").alias("n"),
        F.sum("cnt").over(wt).cast("long").alias("sx"),
    )
    dev = F.col("n") * F.col("cnt") - F.col("sx")
    return w.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_days"),
        F.when(
            F.sum(dev * dev) > 0,
            F.round(
                (F.max("n") * F.max("n") * F.sum(F.col("d") * F.col("d")))
                .cast("double")
                / F.sum(dev * dev).cast("double"),
                6,
            ),
        ).alias("dw_stat"),
    )


@register(
    "ts_macd_daily",
    f"""
    WITH RECURSIVE c AS (
      SELECT event_type,
             CAST(epoch_us(ts) // {US_DAY} AS BIGINT) AS bidx,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    r AS (SELECT event_type, bidx, cnt,
                 CAST(row_number() OVER (PARTITION BY event_type
                                         ORDER BY bidx) AS BIGINT) AS rn
          FROM c),
    e AS (
      SELECT event_type, bidx, cnt, rn,
             CAST(cnt AS DOUBLE) AS ef, CAST(cnt AS DOUBLE) AS es,
             CAST(cnt AS DOUBLE) - CAST(cnt AS DOUBLE) AS md,
             CAST(cnt AS DOUBLE) - CAST(cnt AS DOUBLE) AS sg
      FROM r WHERE rn = 1
      UNION ALL
      SELECT r.event_type, r.bidx, r.cnt, r.rn,
             (CAST(2 AS DOUBLE) / 13) * r.cnt
               + (CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE) / 13) * e.ef,
             (CAST(2 AS DOUBLE) / 27) * r.cnt
               + (CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE) / 27) * e.es,
             ((CAST(2 AS DOUBLE) / 13) * r.cnt
               + (CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE) / 13) * e.ef)
             - ((CAST(2 AS DOUBLE) / 27) * r.cnt
               + (CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE) / 27) * e.es),
             (CAST(2 AS DOUBLE) / 10)
               * (((CAST(2 AS DOUBLE) / 13) * r.cnt
                   + (CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE) / 13) * e.ef)
                  - ((CAST(2 AS DOUBLE) / 27) * r.cnt
                     + (CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE) / 27) * e.es))
               + (CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE) / 10) * e.sg
      FROM r JOIN e ON r.event_type = e.event_type AND r.rn = e.rn + 1)
    SELECT event_type, make_timestamp(bidx * {US_DAY}) AS bucket_start, cnt,
           round(ef, 6) AS ema_fast, round(es, 6) AS ema_slow,
           round(md, 6) AS macd, round(sg, 6) AS signal,
           round(md - sg, 6) AS histogram
    FROM e
    """,
)
def ts_macd_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD(12, 26, 9) momentum indicator over each type's daily event
    counts — three coupled EMA recurrences folded in ONE keyed pass (the
    ewma_smooth composition test). Alphas 2/13, 2/27, 2/10 are single
    IEEE divisions both engines round identically; the fold is strictly
    left-to-right so the float sequence matches the recursive-CTE oracle
    bit-for-bit. One keyed exchange; per-key state = timeline length."""
    from windflow_spark.operators.timeseries import macd_smooth

    return macd_smooth(
        _t(spark, sf_dir, "events"),
        ["event_type"],
        "ts",
        fast=12,
        slow=26,
        signal=9,
        bucket_us=US_DAY,
    )


@register(
    "ts_bollinger_daily",
    f"""
    WITH c AS (
      SELECT event_type,
             CAST(epoch_us(ts) // {US_DAY} AS BIGINT) AS bidx,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    w AS (
      SELECT event_type, bidx, cnt,
             CAST(count(*) OVER win AS BIGINT) AS nw,
             CAST(sum(cnt) OVER win AS BIGINT) AS sx,
             CAST(sum(cnt * cnt) OVER win AS BIGINT) AS sxx
      FROM c
      WINDOW win AS (PARTITION BY event_type ORDER BY bidx
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
    SELECT event_type, make_timestamp(bidx * {US_DAY}) AS bucket_start, cnt,
           round(sx / CAST(7 AS DOUBLE), 6) AS sma7,
           round(sqrt(CAST(7 * sxx - sx * sx AS DOUBLE)) / 7, 6) AS sigma7,
           round(sx / CAST(7 AS DOUBLE)
                 + 2 * (sqrt(CAST(7 * sxx - sx * sx AS DOUBLE)) / 7), 6)
             AS upper_band,
           round(sx / CAST(7 AS DOUBLE)
                 - 2 * (sqrt(CAST(7 * sxx - sx * sx AS DOUBLE)) / 7), 6)
             AS lower_band,
           cnt > sx / CAST(7 AS DOUBLE)
                 + 2 * (sqrt(CAST(7 * sxx - sx * sx AS DOUBLE)) / 7)
             AS breakout_up
    FROM w WHERE nw = 7
    """,
)
def ts_bollinger_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands over each type's daily event counts: 7-day rolling
    mean ± 2 population σ, plus the breakout flag — the volatility-band
    sibling of ts_donchian_channel_daily (which uses order statistics;
    this uses moments). INTEGER-EXACT core: the rolling Σx and Σx² are
    BIGINT window sums, σ = sqrt(7Σx² − Sx²)/7 where the sqrt argument is
    an exact integer (IEEE sqrt is correctly rounded on both engines),
    and the breakout compares against the UNROUNDED band. Rows-based
    window over observed buckets (calendar gaps advance, not decay);
    the first 6 days per key are dropped (full windows only). Two keyed
    exchanges: the (type, day) bucket agg, then the per-type rolling
    window over the days-sized summary frame."""
    c = _daily_event_counts(spark, sf_dir)
    win = (
        W.partitionBy("event_type").orderBy("bidx").rowsBetween(-6, W.currentRow)
    )
    w = c.select(
        "event_type",
        "bidx",
        "cnt",
        F.count(F.lit(1)).over(win).cast("long").alias("nw"),
        F.sum("cnt").over(win).cast("long").alias("sx"),
        F.sum(F.col("cnt") * F.col("cnt")).over(win).cast("long").alias("sxx"),
    )
    mean = F.col("sx") / F.lit(7.0)
    sigma = F.sqrt((7 * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")) / 7
    upper = mean + 2 * sigma
    lower = mean - 2 * sigma
    return w.filter(F.col("nw") == 7).select(
        "event_type",
        F.timestamp_micros(F.col("bidx") * F.lit(US_DAY)).alias("bucket_start"),
        "cnt",
        F.round(mean, 6).alias("sma7"),
        F.round(sigma, 6).alias("sigma7"),
        F.round(upper, 6).alias("upper_band"),
        F.round(lower, 6).alias("lower_band"),
        (F.col("cnt") > upper).alias("breakout_up"),
    )


@register(
    "ts_obv_daily",
    f"""
    WITH c AS (
      SELECT event_type,
             CAST(epoch_us(ts) // {US_DAY} AS BIGINT) AS bidx,
             CAST(count(*) AS BIGINT) AS vol,
             sum(CAST(value AS DECIMAL(18,6))) AS dsum
      FROM events GROUP BY 1, 2),
    d AS (SELECT *, lag(dsum) OVER (PARTITION BY event_type
                                    ORDER BY bidx) AS prev
          FROM c),
    s AS (SELECT *,
                 CASE WHEN prev IS NULL THEN 0
                      WHEN dsum > prev THEN 1
                      WHEN dsum < prev THEN -1
                      ELSE 0 END AS dir
          FROM d)
    SELECT event_type, make_timestamp(bidx * {US_DAY}) AS bucket_start, vol,
           round(CAST(dsum AS DOUBLE), 2) AS day_value,
           CAST(sum(dir * vol) OVER (PARTITION BY event_type ORDER BY bidx
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS obv
    FROM s
    """,
)
def ts_obv_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance volume over each type's daily series: volume (event
    count) accumulates positively on days the daily value-sum rises and
    negatively when it falls — the classic volume-confirms-trend
    indicator. The up/down comparison runs on EXACT DECIMAL day sums
    (order-independent accumulation — a float day-sum could flip a
    hairline up/down day between engines and corrupt every later OBV),
    and the OBV itself is a BIGINT running sum. Two keyed exchanges: the
    (type, day) bucket agg, then one per-type ordering shared by the lag
    and the running sum over the days-sized frame."""
    ev = _t(spark, sf_dir, "events")
    from windflow_spark.operators.timeutil import event_micros

    c = (
        ev.withColumn(
            "bidx", F.floor(event_micros(ev, "ts") / F.lit(US_DAY)).cast("long")
        )
        .groupBy("event_type", "bidx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("vol"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("dsum"),
        )
    )
    wt = W.partitionBy("event_type").orderBy("bidx")
    d = c.withColumn("prev", F.lag("dsum").over(wt))
    s = d.withColumn(
        "dir",
        F.when(F.col("prev").isNull(), F.lit(0))
        .when(F.col("dsum") > F.col("prev"), F.lit(1))
        .when(F.col("dsum") < F.col("prev"), F.lit(-1))
        .otherwise(F.lit(0)),
    )
    return s.select(
        "event_type",
        F.timestamp_micros(F.col("bidx") * F.lit(US_DAY)).alias("bucket_start"),
        "vol",
        F.round(F.col("dsum").cast("double"), 2).alias("day_value"),
        F.sum(F.col("dir") * F.col("vol"))
        .over(wt.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("long")
        .alias("obv"),
    )


@register(
    "kruskal_wallis_qty_priority",
    """
    WITH j AS (
      SELECT o.o_orderpriority AS grp, CAST(l.l_quantity AS BIGINT) AS v
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    gc AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS cg
           FROM j GROUP BY grp, v),
    vc AS (SELECT v, CAST(sum(cg) AS BIGINT) AS c FROM gc GROUP BY v),
    vr AS (SELECT v, c,
                  CAST(2 * (sum(c) OVER (ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c)
                       + c + 1 AS BIGINT) AS ar2
           FROM vc),
    gr AS (SELECT gc.grp, CAST(sum(gc.cg) AS BIGINT) AS nj,
                  CAST(sum(gc.cg * vr.ar2) AS BIGINT) AS r2j
           FROM gc JOIN vr ON gc.v = vr.v GROUP BY gc.grp),
    t AS (SELECT CAST(sum(nj) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
                 sum((CAST(r2j AS DOUBLE) / 2) * (CAST(r2j AS DOUBLE) / 2)
                     / nj) AS srn
          FROM gr),
    ties AS (SELECT CAST(sum(c * c * c - c) AS BIGINT) AS tsum FROM vc),
    h AS (SELECT t.n, t.k,
                 (CAST(12 AS DOUBLE) / (CAST(t.n AS DOUBLE) * (t.n + 1)))
                   * t.srn - 3 * (t.n + 1) AS h_raw,
                 CAST(1 AS DOUBLE)
                   - CAST(ties.tsum AS DOUBLE)
                     / (CAST(t.n AS DOUBLE) * t.n * t.n - t.n) AS corr
          FROM t CROSS JOIN ties)
    SELECT gr.grp, gr.nj, gr.r2j,
           round(CAST(gr.r2j AS DOUBLE) / (2 * gr.nj), 6) AS mean_rank,
           h.n, h.k,
           round(h.h_raw, 4) AS h_stat,
           CASE WHEN h.corr > 0 THEN round(h.h_raw / h.corr, 4) END
             AS h_corrected
    FROM gr CROSS JOIN h
    """,
)
def kruskal_wallis_qty_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis rank test of lineitem quantity across the 5 order
    priorities (the nonparametric ANOVA; mannwhitney_u_price is its
    2-group special case). Rank discipline: quantity has ≤50 DISTINCT
    integer values, so average ranks come from the tiny distinct-value
    frame as EXACT INTEGERS via the 2×-average-rank trick
    (ar2 = 2·cum_before + c + 1), each group's rank sum R2j stays BIGINT,
    and only the final H algebra (with the tie correction
    1 − Σ(t³−t)/(n³−n)) runs in doubles — rounded at 4, the anova_f
    discipline, because the k-term Σ R²/n sum is the one
    order-sensitive float reduction. Emits the per-group rank sums
    (exact) alongside the H statistics. Scale shape: one co-partitioned
    fact join + one (grp, v) aggregation; everything after runs on
    ≤ 50-row frames (the docstring caveat from mannwhitney applies: this
    rank trick REQUIRES a low-cardinality measure)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        F.col("o_orderpriority").alias("grp"),
        F.col("l_quantity").cast("long").alias("v"),
    )
    gc = j.groupBy("grp", "v").agg(F.count(F.lit(1)).cast("long").alias("cg"))
    vc = gc.groupBy("v").agg(F.sum("cg").cast("long").alias("c"))
    wv = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    vr = vc.select(
        "v",
        "c",
        (2 * (F.sum("c").over(wv) - F.col("c")) + F.col("c") + 1)
        .cast("long")
        .alias("ar2"),
    )
    gr = (
        gc.join(F.broadcast(vr), "v")
        .groupBy("grp")
        .agg(
            F.sum("cg").cast("long").alias("nj"),
            F.sum(F.col("cg") * F.col("ar2")).cast("long").alias("r2j"),
        )
    )
    r2d = F.col("r2j").cast("double")
    t = gr.agg(
        F.sum("nj").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum((r2d / 2) * (r2d / 2) / F.col("nj")).alias("srn"),
    )
    ties = vc.agg(
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long")
        .alias("tsum")
    )
    nd = F.col("n").cast("double")
    h = (
        t.crossJoin(F.broadcast(ties))
        .select(
            "n",
            "k",
            ((F.lit(12.0) / (nd * (F.col("n") + 1))) * F.col("srn")
             - 3 * (F.col("n") + 1)).alias("h_raw"),
            (F.lit(1.0)
             - F.col("tsum").cast("double")
             / (nd * F.col("n") * F.col("n") - F.col("n"))).alias("corr"),
        )
    )
    return gr.crossJoin(F.broadcast(h)).select(
        "grp",
        "nj",
        "r2j",
        F.round(F.col("r2j").cast("double") / (2 * F.col("nj")), 6).alias(
            "mean_rank"
        ),
        "n",
        "k",
        F.round(F.col("h_raw"), 4).alias("h_stat"),
        # corr == 0 exactly when every observation is tied (all one value):
        # x/0 in doubles is Inf/NaN, rendered differently across engines —
        # NULL out the corrected statistic there (durbin_watson discipline)
        F.when(
            F.col("corr") > 0, F.round(F.col("h_raw") / F.col("corr"), 4)
        ).alias("h_corrected"),
    )


@register(
    "ngram_novelty_by_source",
    r"""
    WITH d AS (
      SELECT doc_id, source,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents),
    s AS (
      SELECT doc_id, source,
             list_distinct(list_transform(generate_series(1, len(toks) - 2),
                 i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh
      FROM d WHERE len(toks) >= 3),
    occ AS (SELECT doc_id, source, u.s AS shingle
            FROM s, unnest(sh) AS u(s)),
    fs AS (SELECT shingle, CAST(min(doc_id) AS BIGINT) AS first_doc
           FROM occ GROUP BY shingle)
    SELECT occ.source,
           CAST(count(*) AS BIGINT) AS shingle_occurrences,
           CAST(sum(CASE WHEN occ.doc_id = fs.first_doc THEN 1 ELSE 0 END)
                AS BIGINT) AS novel_occurrences,
           round(CAST(sum(CASE WHEN occ.doc_id = fs.first_doc THEN 1 ELSE 0
                          END) AS DOUBLE) / count(*), 6) AS novelty_rate
    FROM occ JOIN fs ON occ.shingle = fs.shingle
    GROUP BY occ.source
    """,
)
def ngram_novelty_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram novelty rate per source: the share of each source's
    distinct-per-doc shingle occurrences whose shingle first appears (by
    min doc_id) in that very document — the corpus-freshness /
    memorization-pressure diagnostic for training-data curation (a
    low-novelty source is mostly re-paste of earlier material; the
    cross-source companion to cross_source_duplication). A shingle's
    "first" document is the minimum doc_id — deterministic on both
    engines. Scale shape: same 3-token shingle definition as the minhash
    family; the per-shingle min-agg and the occurrence join share the
    shingle exchange; final agg is |sources| rows. No all-pairs
    anything — novelty is computed per occurrence against a keyed
    first-seen table."""
    from windflow_spark.functions.dedup import shingle_stream

    docs = _t_wide(spark, sf_dir, "documents")
    occ = shingle_stream(docs, "doc_id", "text", 3, carry=["source"]).dropDuplicates(
        ["doc_id", "_s"]
    )
    fs = occ.groupBy("_s").agg(F.min("doc_id").cast("long").alias("first_doc"))
    novel = F.when(F.col("doc_id") == F.col("first_doc"), 1).otherwise(0)
    return (
        occ.join(fs, "_s")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("shingle_occurrences"),
            F.sum(novel).cast("long").alias("novel_occurrences"),
            F.round(
                F.sum(novel).cast("double") / F.count(F.lit(1)), 6
            ).alias("novelty_rate"),
        )
    )


# Hub cap shared by every wedge-family query: wedges expand in-row only
# through centers with deg <= this (a degree-10^6 hub emits 10^12 wedges
# and carries no pairwise signal), making candidate volume
# sum C(min(deg, 60), 2) — LINEAR in nodes.
_COPURCHASE_HUB_CAP = 60


def copurchase_adjacency(spark: SparkSession, sf_dir: str, max_p_size: int = 25):
    """Shared co-purchase graph prep for the wedge family
    (`link_prediction_jaccard`, `link_prediction_adamic_adar`,
    `clustering_coefficient_local`, `graph_landmark_distances`): parts
    with p_size <= max_p_size bought in the same order are adjacent.

    Returns ``(nbrs, edges)``: ``nbrs`` = per-node SORTED deduplicated
    neighbor array (node, nb) that wedges expand from IN-ROW (hub-capped
    at `_COPURCHASE_HUB_CAP` by the callers); ``edges`` = the u<v edge
    list derived in-row from the arrays (zero extra shuffles). The shape
    is baskets → in-row both-direction pair expansion → ONE collect_set
    aggregation — never an order-keyed self-join. At 100 TB this helper
    is the seam for a materialized/bucketed edge table: every caller
    reads the graph only through these two frames, so swapping in a
    pre-built table touches one function.

    r12: the checkpoint is LAZY — plan construction runs no jobs; the
    caller's first action materializes the blocks inside its own job
    (stages overlap instead of serializing behind an eager build job —
    measured 6-9% off the wedge queries, wash on label propagation).

    r11 optimization (guide §1/§2, measured): ``nbrs`` is
    repartition(p)+localCheckpoint'ed. Before, every consumer branch
    (wedges, edge list, per-endpoint degree attaches) re-ran the whole
    basket chain — adamic-adar's physical plan held TWO full copies with
    no ReusedExchange — and, worse, the post-aggregation frame AQE-
    coalesces to ONE partition, so the Σ C(min(d,60),2) in-row wedge
    expansion (6.8M pairs at sf0.1) and its partial aggregation ran
    single-threaded. Checkpointing the ~|V|-row frame and spreading it
    across defaultParallelism makes every expansion fan out (p is the
    cluster's core count — scale-adaptive, not a tuned constant). The
    old no-persist note warned a persist() pinned tiny-task layouts;
    the round-robin repartition ahead of the checkpoint is exactly the
    cure (layout is p even partitions, not the pre-AQE 32-way hash).
    The pre-basket `.distinct()` is gone: `collect_set` dedups
    identically, and dropping it removes one full (ok, pk) exchange plus
    its single-task partial aggregation (the scan is one task at bench
    scale: single-row-group parquet).
    """
    pt = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") <= max_p_size)
        .select("p_partkey")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
    )
    baskets = li.groupBy("ok").agg(F.array_sort(F.collect_set("pk")).alias("ps"))
    adj = baskets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ps"),
                    lambda x: F.transform(
                        F.filter(F.col("ps"), lambda y: y != x),
                        lambda y: F.struct(x.alias("node"), y.alias("nbr")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.node", "p.nbr")
    nbrs = adj.groupBy("node").agg(F.array_sort(F.collect_set("nbr")).alias("nb"))
    nbrs = nbrs.repartition(spark.sparkContext.defaultParallelism)
    # r12 (VERDICT r11 #8/"what's wrong" #3): the lineage cut is the seam
    # where the 100 TB deployment swaps in RELIABLE storage. Default
    # (bench path, unchanged): executor-local checkpoint — fastest, but
    # its blocks die with an executor, so a lost task is a job failure at
    # cluster scale. `spark.windflow.graph.adjacencyMaterialize=true`
    # instead writes the adjacency ONCE to parquet under a per-invocation
    # directory in the warehouse dir and reads it back: durable across
    # executor loss, readable by all 7 graph consumers, and the unique
    # path guarantees no cross-invocation reuse (every bench/oracle run
    # still computes from the raw inputs). A/B at the sf1 probe is
    # recorded in OPTIMIZATION_r12.md.
    if (
        spark.conf.get("spark.windflow.graph.adjacencyMaterialize", "false")
        == "true"
    ):
        import uuid

        base = spark.conf.get(
            "spark.sql.warehouse.dir", "/tmp/windflow-spark-warehouse"
        ).removeprefix("file:")
        path = f"{base}/_adjacency/{uuid.uuid4().hex}"
        nbrs.write.mode("overwrite").parquet(path)
        nbrs = spark.read.parquet(path)
    else:
        nbrs = nbrs.localCheckpoint(eager=False)
    edges = nbrs.select(
        F.col("node").alias("u"),
        F.explode(F.filter(F.col("nb"), lambda y: y > F.col("node"))).alias("v"),
    )
    return nbrs, edges


def _wedge_pairs(nbrs: DataFrame, carry: Sequence[str] = ()) -> DataFrame:
    """In-row wedge expansion from sorted neighbor arrays: every x<y pair
    within each center's `nb` array (the callers pre-filter centers by
    the hub cap). Emits (x, y) plus any `carry` columns from the center
    row (e.g. the center id or its precomputed weight)."""
    return nbrs.select(
        *carry,
        F.explode(
            F.flatten(
                F.transform(
                    F.col("nb"),
                    lambda x, i: F.transform(
                        F.slice(F.col("nb"), i + 2, F.size(F.col("nb"))),
                        lambda y: F.struct(x.alias("x"), y.alias("y")),
                    ),
                )
            )
        ).alias("p"),
    ).select(*carry, "p.x", "p.y")


@register(
    "link_prediction_jaccard",
    """
    WITH li AS (SELECT DISTINCT l.l_orderkey AS ok, l.l_partkey AS pk
                FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
                WHERE p.p_size <= 25),
    e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
          FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
    adj AS (SELECT u AS node, v AS nbr FROM e
            UNION ALL
            SELECT v, u FROM e),
    deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY node),
    zok AS (SELECT node AS z FROM deg WHERE d <= 60),
    w AS (SELECT a.nbr AS x, b.nbr AS y
          FROM adj a JOIN adj b ON a.node = b.node AND a.nbr < b.nbr
          JOIN zok ON a.node = zok.z),
    cn AS (SELECT x, y, CAST(count(*) AS BIGINT) AS cn
           FROM w GROUP BY x, y),
    ne AS (SELECT cn.* FROM cn LEFT JOIN e ON cn.x = e.u AND cn.y = e.v
           WHERE e.u IS NULL),
    sc AS (SELECT ne.x, ne.y, ne.cn, dx.d AS deg_x, dy.d AS deg_y,
                  CAST(ne.cn AS DOUBLE) / (dx.d + dy.d - ne.cn) AS j_raw
           FROM ne JOIN deg dx ON ne.x = dx.node
                   JOIN deg dy ON ne.y = dy.node)
    SELECT x, y, cn AS common_neighbors, deg_x, deg_y,
           round(j_raw, 6) AS jaccard
    FROM sc
    ORDER BY j_raw DESC, x, y
    LIMIT 20
    """,
)
def link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the co-purchase graph: top-20 NON-adjacent part
    pairs by neighborhood Jaccard = |N(x)∩N(y)| / (deg x + deg y − cn) —
    the classic common-neighbors recommender. Scale disciplines: edges
    are generated IN-ROW from per-order basket arrays (the triangle-count
    move, never an order-keyed self-join); wedge pairs are likewise
    expanded IN-ROW from each center's collected neighbor array rather
    than an adj⋈adj self-join, and only through HUB-CAPPED centers
    (deg ≤ 60 — the LSH bucket-cap move: a degree-10⁶ hub would emit
    10¹² wedges; scores through hubs carry no signal and are excluded on
    BOTH engines, making the reported Jaccard a documented lower bound);
    the candidate count is then Σ C(min(deg,60), 2) — LINEAR in nodes,
    and the edge/degree side tables ride broadcasts. Ranking uses the raw
    rational cn/(dx+dy−cn) (exact integers → identical IEEE division)
    with (x, y) tie-breaks; the global top-20 is a TakeOrdered, never a
    full sort."""
    nbrs, e = copurchase_adjacency(spark, sf_dir)
    deg = nbrs.select("node", F.size("nb").cast("long").alias("d"))
    w = _wedge_pairs(nbrs.filter(F.size("nb") <= _COPURCHASE_HUB_CAP))
    cn = w.groupBy("x", "y").agg(F.count(F.lit(1)).cast("long").alias("cn"))
    # the edge list (|E| rows) and degree table (|V| rows) are both tiny
    # next to the candidate-pair frame — broadcast them, GUARDED (r12) by
    # the catalog-size estimate so an outgrown catalog degrades these to
    # co-partitioned equi-joins on x/y instead of a driver OOM
    est_e = _catalog_est(sf_dir, _COPURCHASE_HUB_CAP, 16)
    est_v = _catalog_est(sf_dir, 1, 16)
    ne = cn.join(
        maybe_broadcast(e, est_e), (cn.x == e.u) & (cn.y == e.v), "left_anti"
    )
    dx = deg.select(F.col("node").alias("x"), F.col("d").alias("deg_x"))
    dy = deg.select(F.col("node").alias("y"), F.col("d").alias("deg_y"))
    sc = (
        ne.join(maybe_broadcast(dx, est_v), "x")
        .join(maybe_broadcast(dy, est_v), "y")
        .withColumn(
            "j_raw",
            F.col("cn").cast("double")
            / (F.col("deg_x") + F.col("deg_y") - F.col("cn")),
        )
    )
    return (
        sc.orderBy(F.col("j_raw").desc(), "x", "y")
        .limit(20)
        .select(
            "x",
            "y",
            F.col("cn").alias("common_neighbors"),
            "deg_x",
            "deg_y",
            F.round(F.col("j_raw"), 6).alias("jaccard"),
        )
    )


@register(
    "ts_atr_14_daily",
    f"""
    WITH c AS (
      SELECT event_type, CAST(epoch_us(ts) // {US_DAY} AS BIGINT) AS bidx,
             max(value) AS high, min(value) AS low,
             (max({{'t': epoch_us(ts), 'v': value}})).v AS close
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    p AS (SELECT *, lag(close) OVER (PARTITION BY event_type
                                     ORDER BY bidx) AS pc
          FROM c),
    t AS (SELECT event_type, bidx,
                 CAST(floor((CASE WHEN pc IS NULL THEN high - low
                       ELSE greatest(high - low, abs(high - pc),
                                     abs(low - pc)) END)
                      * CAST(1000000 AS DOUBLE)) AS BIGINT) AS tr_u
          FROM p),
    w AS (SELECT event_type, bidx, tr_u,
                 CAST(count(*) OVER win AS BIGINT) AS nw,
                 CAST(sum(tr_u) OVER win AS BIGINT) AS s
          FROM t
          WINDOW win AS (PARTITION BY event_type ORDER BY bidx
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    SELECT event_type, make_timestamp(bidx * {US_DAY}) AS bucket_start, tr_u,
           round((CAST(s AS DOUBLE) / 14) / CAST(1000000 AS DOUBLE), 6)
             AS atr14
    FROM w WHERE nw = 14
    """,
)
def ts_atr_14_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day average true range over daily value bars per type (SMA-ATR
    — the volatility denominator of Keltner channels and position sizing;
    the OHLC consumer of resample_ohlc). True range =
    max(H−L, |H−prevC|, |L−prevC|) on raw doubles (exact IEEE ops on
    identical parquet bits), then QUANTIZED to integer micro-units
    (floor(tr·1e6) — double mult + floor are identical on both engines)
    so the 14-day window sum is BIGINT-exact regardless of summation
    order; the quantization (≤1e-6 per term, documented) is the price of
    order-independence for a rolling float sum. Two keyed exchanges:
    the (type, day) OHLC agg + the per-type window chain."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    from windflow_spark.operators.timeseries import resample_ohlc

    ohlc = resample_ohlc(ev, ["event_type"], "ts", "value", US_DAY).select(
        "event_type",
        (F.unix_micros(F.col("bucket_start")) / F.lit(US_DAY))
        .cast("long")
        .alias("bidx"),
        "high",
        "low",
        "close",
    )
    wt = W.partitionBy("event_type").orderBy("bidx")
    p = ohlc.withColumn("pc", F.lag("close").over(wt))
    tr = F.when(F.col("pc").isNull(), F.col("high") - F.col("low")).otherwise(
        F.greatest(
            F.col("high") - F.col("low"),
            F.abs(F.col("high") - F.col("pc")),
            F.abs(F.col("low") - F.col("pc")),
        )
    )
    t = p.select(
        "event_type",
        "bidx",
        F.floor(tr * F.lit(1000000.0)).cast("long").alias("tr_u"),
    )
    win = wt.rowsBetween(-13, W.currentRow)
    w = t.select(
        "event_type",
        "bidx",
        "tr_u",
        F.count(F.lit(1)).over(win).cast("long").alias("nw"),
        F.sum("tr_u").over(win).cast("long").alias("s"),
    )
    return w.filter(F.col("nw") == 14).select(
        "event_type",
        F.timestamp_micros(F.col("bidx") * F.lit(US_DAY)).alias("bucket_start"),
        "tr_u",
        F.round(
            (F.col("s").cast("double") / 14) / F.lit(1000000.0), 6
        ).alias("atr14"),
    )


@register(
    "mann_kendall_trend_daily",
    f"""
    WITH c AS (
      SELECT event_type, CAST(epoch_us(ts) // {US_DAY} AS BIGINT) AS bidx,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    p AS (SELECT a.event_type,
                 CASE WHEN b.cnt > a.cnt THEN 1
                      WHEN b.cnt < a.cnt THEN -1 ELSE 0 END AS sg
          FROM c a JOIN c b
            ON a.event_type = b.event_type AND a.bidx < b.bidx),
    s AS (SELECT event_type, CAST(sum(sg) AS BIGINT) AS s_stat
          FROM p GROUP BY 1),
    n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY 1),
    t AS (SELECT event_type,
                 CAST(sum(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT) AS tie_term
          FROM (SELECT event_type, cnt, CAST(count(*) AS BIGINT) AS tc
                FROM c GROUP BY 1, 2)
          GROUP BY 1),
    v AS (SELECT n.event_type, n.n,
                 CAST(n.n * (n.n - 1) * (2 * n.n + 5) - t.tie_term AS DOUBLE)
                   / 18 AS var_s
          FROM n JOIN t USING (event_type))
    SELECT v.event_type, v.n AS n_days, s.s_stat,
           round(v.var_s, 6) AS var_s,
           CASE WHEN s.s_stat > 0 THEN round((s.s_stat - 1) / sqrt(v.var_s), 6)
                WHEN s.s_stat < 0 THEN round((s.s_stat + 1) / sqrt(v.var_s), 6)
                ELSE CAST(0 AS DOUBLE) END AS z_stat,
           CASE WHEN s.s_stat > 0 AND (s.s_stat - 1) / sqrt(v.var_s) > 1.96
                  THEN 'increasing'
                WHEN s.s_stat < 0 AND (s.s_stat + 1) / sqrt(v.var_s) < -1.96
                  THEN 'decreasing'
                ELSE 'no_trend' END AS trend
    FROM v JOIN s USING (event_type)
    """,
)
def mann_kendall_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall nonparametric trend test per type's daily series — the
    hypothesis-test companion to ts_theilsen_trend (same pairwise-sign
    machinery; this one adds the tie-corrected variance and Z decision).
    S = Σ_(i<j) sign(x_j − x_i) is an EXACT BIGINT from the pairwise
    self-join on the days-sized summary frame (30 days → 435 pairs per
    key — quadratic only in the TIMELINE length, never in event volume;
    at 100 TB the day frame is still tiny). Variance uses the exact
    integer tie term Σt(t−1)(2t+5); only the final z = (S∓1)/√var runs
    in doubles, and the trend label compares the UNROUNDED z on both
    engines."""
    c = _daily_event_counts(spark, sf_dir)
    a = c.select("event_type", F.col("bidx").alias("ai"), F.col("cnt").alias("ac"))
    b = c.select(
        F.col("event_type").alias("bt"),
        F.col("bidx").alias("bi"),
        F.col("cnt").alias("bc"),
    )
    sg = (
        F.when(F.col("bc") > F.col("ac"), 1)
        .when(F.col("bc") < F.col("ac"), -1)
        .otherwise(0)
    )
    s = (
        a.join(b, (F.col("event_type") == F.col("bt")) & (F.col("ai") < F.col("bi")))
        .groupBy("event_type")
        .agg(F.sum(sg).cast("long").alias("s_stat"))
    )
    n = c.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = (
        c.groupBy("event_type", "cnt")
        .agg(F.count(F.lit(1)).cast("long").alias("tc"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("tc") * (F.col("tc") - 1) * (2 * F.col("tc") + 5)
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    v = n.join(t, "event_type").select(
        "event_type",
        "n",
        (
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.col("tie_term")
            ).cast("double")
            / 18
        ).alias("var_s"),
    )
    zpos = (F.col("s_stat") - 1) / F.sqrt(F.col("var_s"))
    zneg = (F.col("s_stat") + 1) / F.sqrt(F.col("var_s"))
    return v.join(s, "event_type").select(
        "event_type",
        F.col("n").alias("n_days"),
        "s_stat",
        F.round(F.col("var_s"), 6).alias("var_s"),
        F.when(F.col("s_stat") > 0, F.round(zpos, 6))
        .when(F.col("s_stat") < 0, F.round(zneg, 6))
        .otherwise(F.lit(0.0))
        .alias("z_stat"),
        F.when((F.col("s_stat") > 0) & (zpos > 1.96), F.lit("increasing"))
        .when((F.col("s_stat") < 0) & (zneg < -1.96), F.lit("decreasing"))
        .otherwise(F.lit("no_trend"))
        .alias("trend"),
    )


@register(
    "ols2_price_on_qty_discount",
    """
    WITH g AS (
      SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS s1,
             CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS s2,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(18,6)))
                  AS DOUBLE) AS s11,
             CAST(sum(CAST(l_discount * l_discount AS DECIMAL(18,6)))
                  AS DOUBLE) AS s22,
             CAST(sum(CAST(l_quantity * l_discount AS DECIMAL(18,6)))
                  AS DOUBLE) AS s12,
             CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(18,6)))
                  AS DOUBLE) AS s1y,
             CAST(sum(CAST(l_discount * l_extendedprice AS DECIMAL(18,6)))
                  AS DOUBLE) AS s2y,
             CAST(sum(CAST(l_extendedprice * l_extendedprice
                           AS DECIMAL(28,6))) AS DOUBLE) AS syy
      FROM lineitem GROUP BY 1),
    d AS (
      SELECT flag, n, s1, s2, sy, s1y, s2y, syy,
             CAST(n AS DOUBLE) * (s11 * s22 - s12 * s12)
               - s1 * (s1 * s22 - s12 * s2)
               + s2 * (s1 * s12 - s11 * s2) AS det,
             sy * (s11 * s22 - s12 * s12)
               - s1 * (s1y * s22 - s12 * s2y)
               + s2 * (s1y * s12 - s11 * s2y) AS det0,
             CAST(n AS DOUBLE) * (s1y * s22 - s12 * s2y)
               - sy * (s1 * s22 - s12 * s2)
               + s2 * (s1 * s2y - s1y * s2) AS det1,
             CAST(n AS DOUBLE) * (s11 * s2y - s1y * s12)
               - s1 * (s1 * s2y - s1y * s2)
               + sy * (s1 * s12 - s11 * s2) AS det2
      FROM g),
    b AS (SELECT flag, n, det0 / det AS b0, det1 / det AS b1,
                 det2 / det AS b2, sy, s1y, s2y, syy
          FROM d)
    SELECT flag, n,
           round(b0, 6) AS intercept,
           round(b1, 6) AS beta_qty,
           round(b2, 6) AS beta_discount,
           round(CAST(1 AS DOUBLE)
                 - (syy - b0 * sy - b1 * s1y - b2 * s2y)
                   / (syy - (sy * sy) / n), 6) AS r2
    FROM b
    """,
)
def ols2_price_on_qty_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-regressor OLS per return flag (extended price on quantity AND
    discount) solved in closed form: the 3×3 normal equations via
    Cramer's rule over the nine moment sums — multiple regression as ONE
    map-side-combined aggregation pass, no iteration, no driver-side
    solver (at 100 TB this is exactly one scan + one 3-row shuffle).
    Every moment accumulates as DECIMAL (order-independent, the _dsum
    discipline); the determinant expansions and R² = 1 − SSE/SST are then
    fixed IEEE expression trees over identical doubles on both engines."""
    li = _t_wide(spark, sf_dir, "lineitem")

    def dsum6(expr):
        return F.sum(expr.cast("decimal(18,6)")).cast("double")

    q, dc, y = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    g = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum6(q).alias("s1"),
        dsum6(dc).alias("s2"),
        dsum6(y).alias("sy"),
        dsum6(q * q).alias("s11"),
        dsum6(dc * dc).alias("s22"),
        dsum6(q * dc).alias("s12"),
        dsum6(q * y).alias("s1y"),
        dsum6(dc * y).alias("s2y"),
        F.sum((y * y).cast("decimal(28,6)")).cast("double").alias("syy"),
    )
    nd = F.col("n").cast("double")
    s1, s2, sy = F.col("s1"), F.col("s2"), F.col("sy")
    s11, s22, s12 = F.col("s11"), F.col("s22"), F.col("s12")
    s1y, s2y, syy = F.col("s1y"), F.col("s2y"), F.col("syy")
    d = g.select(
        "flag",
        "n",
        "sy",
        "s1y",
        "s2y",
        "syy",
        (
            nd * (s11 * s22 - s12 * s12)
            - s1 * (s1 * s22 - s12 * s2)
            + s2 * (s1 * s12 - s11 * s2)
        ).alias("det"),
        (
            sy * (s11 * s22 - s12 * s12)
            - s1 * (s1y * s22 - s12 * s2y)
            + s2 * (s1y * s12 - s11 * s2y)
        ).alias("det0"),
        (
            nd * (s1y * s22 - s12 * s2y)
            - sy * (s1 * s22 - s12 * s2)
            + s2 * (s1 * s2y - s1y * s2)
        ).alias("det1"),
        (
            nd * (s11 * s2y - s1y * s12)
            - s1 * (s1 * s2y - s1y * s2)
            + sy * (s1 * s12 - s11 * s2)
        ).alias("det2"),
    )
    b = d.select(
        "flag",
        "n",
        "sy",
        "s1y",
        "s2y",
        "syy",
        (F.col("det0") / F.col("det")).alias("b0"),
        (F.col("det1") / F.col("det")).alias("b1"),
        (F.col("det2") / F.col("det")).alias("b2"),
    )
    sse = (
        F.col("syy")
        - F.col("b0") * F.col("sy")
        - F.col("b1") * F.col("s1y")
        - F.col("b2") * F.col("s2y")
    )
    sst = F.col("syy") - (F.col("sy") * F.col("sy")) / F.col("n")
    return b.select(
        "flag",
        "n",
        F.round(F.col("b0"), 6).alias("intercept"),
        F.round(F.col("b1"), 6).alias("beta_qty"),
        F.round(F.col("b2"), 6).alias("beta_discount"),
        F.round(F.lit(1.0) - sse / sst, 6).alias("r2"),
    )


@register(
    "mcnemar_returns_discount",
    """
    WITH f AS (
      SELECT l_returnflag = 'R' AS a,
             l_discount > 0.05 AS b
      FROM lineitem),
    c AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
                      AS BIGINT) AS b10,
                 CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)
                      AS BIGINT) AS b01,
                 CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END)
                      AS BIGINT) AS b11,
                 CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
                      AS BIGINT) AS b00
          FROM f)
    SELECT n, b11 AS both_true, b00 AS both_false,
           b10 AS only_returned, b01 AS only_discounted,
           round(CAST((abs(b10 - b01) - 1) * (abs(b10 - b01) - 1) AS DOUBLE)
                 / (b10 + b01), 6) AS chi2_cc,
           round(CAST(b10 AS DOUBLE) / (b10 + b01), 6) AS discordant_share
    FROM c
    """,
)
def mcnemar_returns_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test (continuity-corrected) on the paired binary flags
    "item was returned" vs "item was deep-discounted" — the
    paired-proportions sibling of chi2_segment_priority (which tests
    independence on UNPAIRED margins; McNemar tests marginal homogeneity
    on the SAME rows). χ²_cc = (|b−c|−1)²/(b+c) over the two discordant
    cells — all BIGINT until the final division. ONE conditional-agg
    scan, zero joins; the paired flags are computed in-row."""
    li = _t(spark, sf_dir, "lineitem")
    a = F.col("l_returnflag") == "R"
    b = F.col("l_discount") > 0.05
    c = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(a & ~b, 1).otherwise(0)).cast("long").alias("b10"),
        F.sum(F.when(~a & b, 1).otherwise(0)).cast("long").alias("b01"),
        F.sum(F.when(a & b, 1).otherwise(0)).cast("long").alias("b11"),
        F.sum(F.when(~a & ~b, 1).otherwise(0)).cast("long").alias("b00"),
    )
    diff = F.abs(F.col("b10") - F.col("b01")) - 1
    return c.select(
        "n",
        F.col("b11").alias("both_true"),
        F.col("b00").alias("both_false"),
        F.col("b10").alias("only_returned"),
        F.col("b01").alias("only_discounted"),
        F.round(
            (diff * diff).cast("double") / (F.col("b10") + F.col("b01")), 6
        ).alias("chi2_cc"),
        F.round(
            F.col("b10").cast("double") / (F.col("b10") + F.col("b01")), 6
        ).alias("discordant_share"),
    )


@register(
    "span_corruption_masks",
    r"""
    WITH d AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS n
      FROM documents),
    f AS (SELECT doc_id, CAST(n AS BIGINT) AS n,
                 CAST((n * 15) // 100 // 3 AS BIGINT) AS nsp
          FROM d WHERE n >= 20),
    m AS (SELECT doc_id, n, nsp,
                 list_distinct(flatten(list_transform(
                   generate_series(0, nsp - 1),
                   s -> generate_series(
                     1 + (('0x' || substr(md5(doc_id || ':' || s), 1, 15))
                          ::BIGINT % (n - 2)),
                     least(1 + (('0x' || substr(md5(doc_id || ':' || s), 1, 15))
                                ::BIGINT % (n - 2)) + 2, n))))) AS masked
          FROM f)
    SELECT doc_id, n AS n_tokens, nsp AS n_spans,
           CAST(len(masked) AS BIGINT) AS n_masked,
           CAST(list_sum(masked) AS BIGINT) AS mask_pos_sum,
           round(CAST(len(masked) AS DOUBLE) / n, 6) AS mask_rate
    FROM m
    """,
)
def span_corruption_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption mask planning per document: ~15% of token
    positions masked in mean-length-3 spans, span starts drawn
    DETERMINISTICALLY from md5(doc_id:span_idx) — the denoising-objective
    data-prep pass (mask positions must be reproducible across reruns and
    engines, which is why the randomness is content-addressed, the
    sample_stratified_hash discipline). Everything is IN-ROW array work
    (zero shuffles, scan-parallel): span count = n·15//100//3 in integer
    arithmetic, overlapping spans collapse via distinct, and the emitted
    fingerprint (count + position sum) pins the exact mask set. Docs with
    <20 tokens are skipped (no full span fits the budget)."""
    from windflow_spark.functions.text import tokens

    docs = _t_wide(spark, sf_dir, "documents")
    d = docs.select("doc_id", F.size(tokens("text")).cast("long").alias("n"))
    f = d.filter(F.col("n") >= 20).select(
        "doc_id",
        "n",
        ((F.col("n") * 15 - (F.col("n") * 15) % 100) / 100).cast("long").alias("_h"),
    )
    f = f.select(
        "doc_id", "n", ((F.col("_h") - F.col("_h") % 3) / 3).cast("long").alias("nsp")
    )
    h = lambda s: F.conv(  # noqa: E731
        F.substring(F.md5(F.concat_ws(":", F.col("doc_id"), s)), 1, 15), 16, 10
    ).cast("long")
    start = lambda s: 1 + h(s) % (F.col("n") - 2)  # noqa: E731
    masked = F.array_distinct(
        F.flatten(
            F.transform(
                F.sequence(F.lit(0).cast("long"), F.col("nsp") - 1),
                lambda s: F.sequence(
                    start(s), F.least(start(s) + 2, F.col("n"))
                ),
            )
        )
    )
    m = f.select("doc_id", "n", "nsp", masked.alias("masked"))
    return m.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        F.col("nsp").alias("n_spans"),
        F.size("masked").cast("long").alias("n_masked"),
        F.aggregate(
            "masked", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("mask_pos_sum"),
        F.round(F.size("masked").cast("double") / F.col("n"), 6).alias(
            "mask_rate"
        ),
    )


@register(
    "quantile_normalize_doclen",
    """
    WITH r AS (
      SELECT source, n_chars, doc_id,
             CAST(row_number() OVER (PARTITION BY source
                    ORDER BY n_chars, doc_id) AS BIGINT) AS r,
             CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS ns
      FROM documents),
    g AS (SELECT n_chars AS gval,
                 CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT)
                   AS gr
          FROM documents),
    n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
    m AS (SELECT r.source, r.n_chars, g.gval
          FROM r CROSS JOIN n
          JOIN g ON g.gr = ((r.r - 1) * n.nn) // r.ns + 1)
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS raw_sum,
           CAST(sum(gval) AS BIGINT) AS norm_sum,
           CAST(min(gval) AS BIGINT) AS norm_min,
           CAST(max(gval) AS BIGINT) AS norm_max
    FROM m GROUP BY source
    """,
)
def quantile_normalize_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of document length across sources: each
    doc's length is replaced by the GLOBAL length at the same within-
    source quantile position (the cross-source distribution equalizer —
    microarray-classic, used in data curation to compare sources whose
    raw length distributions differ). INTEGER-EXACT: within-source rank r
    of n_s maps to global rank ((r−1)·N)//n_s + 1 — pure integer
    arithmetic, deterministic (n_chars, doc_id) tie-break on both
    engines; the position join is an equi-join on the global rank.
    Emits per-source raw vs normalized sums/extremes. The global
    row_number is a documented single-partition sort at THIS corpus
    size (the gains_table_deciles caveat); the 100 TB path is a range-
    partitioned two-pass rank, same downstream algebra."""
    docs = _t(spark, sf_dir, "documents")
    ws = W.partitionBy("source")
    r = docs.select(
        "source",
        "n_chars",
        F.row_number()
        .over(ws.orderBy("n_chars", "doc_id"))
        .cast("long")
        .alias("r"),
        F.count(F.lit(1)).over(ws).cast("long").alias("ns"),
    )
    g = docs.select(
        F.col("n_chars").alias("gval"),
        F.row_number().over(W.orderBy("n_chars", "doc_id")).cast("long").alias("gr"),
    )
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("nn"))
    # true BIGINT floor-division (Spark `div`): the double-arithmetic
    # emulation ((r-1)*nn - mod)/ns is exact only while (r-1)*N < 2^53,
    # which would quietly break the INTEGER-EXACT claim at corpus scale
    pos = F.expr("((r - 1) * nn) div ns") + 1
    m = (
        r.crossJoin(F.broadcast(n))
        .withColumn("gpos", pos.cast("long"))
        .join(g, F.col("gpos") == F.col("gr"))
    )
    return m.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("raw_sum"),
        F.sum("gval").cast("long").alias("norm_sum"),
        F.min("gval").cast("long").alias("norm_min"),
        F.max("gval").cast("long").alias("norm_max"),
    )


@register(
    "sax_symbols_daily",
    f"""
    WITH c AS (
      SELECT event_type, CAST(epoch_us(ts) // {US_DAY} AS BIGINT) AS bidx,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(cnt) AS BIGINT) AS s,
                  CAST(sum(cnt * cnt) AS BIGINT) AS ss
           FROM c GROUP BY 1),
    z AS (SELECT c.event_type, c.bidx, c.cnt,
                 CAST(st.n * c.cnt - st.s AS DOUBLE) AS dev,
                 sqrt(CAST(st.n * st.ss - st.s * st.s AS DOUBLE)) AS dnm
          FROM c JOIN st USING (event_type)),
    sym AS (SELECT event_type, bidx,
                   CASE WHEN dnm = 0 THEN 'b'
                        WHEN dev < -0.6745 * dnm THEN 'a'
                        WHEN dev < 0 THEN 'b'
                        WHEN dev < 0.6745 * dnm THEN 'c'
                        ELSE 'd' END AS sm
            FROM z)
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
           string_agg(sm, '' ORDER BY bidx) AS sax,
           CAST(sum(CASE WHEN sm = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(sum(CASE WHEN sm = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
           CAST(sum(CASE WHEN sm = 'c' THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
           CAST(sum(CASE WHEN sm = 'd' THEN 1 ELSE 0 END) AS BIGINT) AS n_d
    FROM sym GROUP BY event_type
    """,
)
def sax_symbols_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization of each type's daily count series (alphabet
    {{a,b,c,d}} at the standard N(0,1) breakpoints ±0.6745, 0) — the
    symbolic time-series representation behind motif discovery and
    HOT-SAX anomaly mining. The z-score comparisons are rearranged to
    integer-exact form: z < t ⇔ (n·x − S) < t·sqrt(n·SS − S²), where
    dev is BIGINT and the threshold side is one IEEE multiply of an
    integer-argument sqrt — both engines classify every day identically
    (no division, no rounding anywhere near a boundary). The SAX string
    aggregates in explicit bidx order on both engines. One keyed
    exchange for the day agg; the per-type moments ride a broadcast."""
    c = _daily_event_counts(spark, sf_dir)
    st = c.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cnt").cast("long").alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("ss"),
    )
    z = c.join(F.broadcast(st), "event_type").select(
        "event_type",
        "bidx",
        (F.col("n") * F.col("cnt") - F.col("s")).cast("double").alias("dev"),
        F.sqrt(
            (F.col("n") * F.col("ss") - F.col("s") * F.col("s")).cast("double")
        ).alias("dnm"),
    )
    sm = (
        F.when(F.col("dnm") == 0, F.lit("b"))
        .when(F.col("dev") < -0.6745 * F.col("dnm"), F.lit("a"))
        .when(F.col("dev") < 0, F.lit("b"))
        .when(F.col("dev") < 0.6745 * F.col("dnm"), F.lit("c"))
        .otherwise(F.lit("d"))
    )
    sym = z.select("event_type", "bidx", sm.alias("sm"))
    agg = sym.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("bidx"), F.col("sm")))
                ),
                lambda x: x["sm"],
            ),
            "",
        ).alias("sax"),
        F.sum(F.when(F.col("sm") == "a", 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("sm") == "b", 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("sm") == "c", 1).otherwise(0)).cast("long").alias("n_c"),
        F.sum(F.when(F.col("sm") == "d", 1).otherwise(0)).cast("long").alias("n_d"),
    )
    return agg


@register(
    "growth_accounting_weekly",
    f"""
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST(epoch_us(ts) // {US_DAY * 7} AS BIGINT) AS wk
      FROM events),
    l AS (SELECT user_id, wk,
                 lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
                 min(wk) OVER (PARTITION BY user_id) AS first_wk
          FROM uw),
    cl AS (SELECT wk,
                  CAST(count(*) AS BIGINT) AS n_active,
                  CAST(sum(CASE WHEN wk = first_wk THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_new,
                  CAST(sum(CASE WHEN prev_wk = wk - 1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_retained,
                  CAST(sum(CASE WHEN wk <> first_wk
                                 AND (prev_wk IS NULL OR prev_wk < wk - 1)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
           FROM l GROUP BY wk),
    w AS (SELECT *, lag(n_active) OVER (ORDER BY wk) AS prev_active
          FROM cl)
    SELECT wk AS week_idx, n_active, n_new, n_retained, n_resurrected,
           CASE WHEN prev_active IS NULL THEN NULL
                ELSE prev_active - n_retained END AS n_churned,
           CASE WHEN prev_active IS NOT NULL
                 AND prev_active - n_retained > 0
                THEN round(CAST(n_new + n_resurrected AS DOUBLE)
                           / (prev_active - n_retained), 6) END AS quick_ratio
    FROM w
    """,
)
def growth_accounting_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting (the Social-Capital framework): every
    active user classified as NEW (first-ever week), RETAINED (also
    active the week before), or RESURRECTED (returning after a gap);
    CHURNED(w) = active(w−1) − retained(w), and the quick ratio =
    (new + resurrected)/churned. All counts are exact integers from one
    (user, week) distinct pass + per-user lag/min windows; the weekly
    summary lag runs on the weeks-sized frame. The user window and the
    distinct share the user-keyed exchange — at 100 TB this is the
    standard two-shuffle cohort shape (fact→user, user→week)."""
    ev = _t(spark, sf_dir, "events")
    from windflow_spark.operators.timeutil import event_micros

    uw = (
        ev.select(
            "user_id",
            F.floor(event_micros(ev, "ts") / F.lit(US_DAY * 7))
            .cast("long")
            .alias("wk"),
        )
        .distinct()
    )
    wu = W.partitionBy("user_id")
    l = uw.select(
        "user_id",
        "wk",
        F.lag("wk").over(wu.orderBy("wk")).alias("prev_wk"),
        F.min("wk").over(wu).alias("first_wk"),
    )
    cl = l.groupBy("wk").agg(
        F.count(F.lit(1)).cast("long").alias("n_active"),
        F.sum(F.when(F.col("wk") == F.col("first_wk"), 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(F.when(F.col("prev_wk") == F.col("wk") - 1, 1).otherwise(0))
        .cast("long")
        .alias("n_retained"),
        F.sum(
            F.when(
                (F.col("wk") != F.col("first_wk"))
                & (F.col("prev_wk").isNull() | (F.col("prev_wk") < F.col("wk") - 1)),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_resurrected"),
    )
    w = cl.withColumn("prev_active", F.lag("n_active").over(W.orderBy("wk")))
    churn = F.col("prev_active") - F.col("n_retained")
    return w.select(
        F.col("wk").alias("week_idx"),
        "n_active",
        "n_new",
        "n_retained",
        "n_resurrected",
        F.when(F.col("prev_active").isNotNull(), churn).alias("n_churned"),
        F.when(
            F.col("prev_active").isNotNull() & (churn > 0),
            F.round(
                (F.col("n_new") + F.col("n_resurrected")).cast("double") / churn, 6
            ),
        ).alias("quick_ratio"),
    )


@register(
    "activity_histogram_monthly",
    f"""
    WITH ud AS (
      SELECT DISTINCT user_id,
             date_trunc('month', ts) AS mon,
             CAST(epoch_us(ts) // {US_DAY} AS BIGINT) AS d
      FROM events),
    per_user AS (SELECT user_id, mon, CAST(count(*) AS BIGINT) AS days_active
                 FROM ud GROUP BY 1, 2)
    SELECT mon AS month_start, days_active,
           CAST(count(*) AS BIGINT) AS n_users
    FROM per_user GROUP BY 1, 2
    """,
)
def activity_histogram_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-user curve: per calendar month, the histogram of users by
    number of active days (the L28/L30 engagement distribution — the
    shape product teams watch to distinguish habit from drive-by). Exact
    integers throughout: one (user, month, day) distinct, one per-user
    count, one histogram agg — all three co-partitioned on user_id then
    the tiny (month, days) frame. Calendar months via date_trunc on both
    engines (identical timestamp semantics, system tz UTC)."""
    ev = _t(spark, sf_dir, "events")
    from windflow_spark.operators.timeutil import event_micros

    ud = ev.select(
        "user_id",
        F.date_trunc("month", F.col("ts")).alias("mon"),
        F.floor(event_micros(ev, "ts") / F.lit(US_DAY)).cast("long").alias("d"),
    ).distinct()
    per_user = ud.groupBy("user_id", "mon").agg(
        F.count(F.lit(1)).cast("long").alias("days_active")
    )
    return per_user.groupBy(
        F.col("mon").alias("month_start"), "days_active"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_users"))


@register(
    "hurst_rs_daily",
    f"""
    WITH c AS (
      SELECT event_type, CAST(epoch_us(ts) // {US_DAY} AS BIGINT) AS bidx,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    r AS (SELECT event_type, bidx, cnt,
                 CAST(row_number() OVER (PARTITION BY event_type
                                         ORDER BY bidx) AS BIGINT) AS rn,
                 CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
          FROM c),
    x AS (SELECT r.*, m.m, (rn - 1) // m.m AS blk
          FROM r CROSS JOIN (SELECT unnest([8, 16]) AS m) m
          WHERE (rn - 1) // m.m < n // m.m),
    bs AS (SELECT event_type, m, blk, cnt, rn,
                  CAST(sum(cnt) OVER w AS BIGINT) AS s,
                  CAST(sum(cnt * cnt) OVER w AS BIGINT) AS ss
           FROM x
           WINDOW w AS (PARTITION BY event_type, m, blk)),
    cum AS (SELECT event_type, m, blk, s, ss,
                   CAST(sum(m * cnt - s) OVER (PARTITION BY event_type, m, blk
                          ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS BIGINT) AS ck
            FROM bs),
    blkrs AS (SELECT event_type, m, blk,
                     CAST(max(ck) - min(ck) AS BIGINT) AS r_num,
                     sqrt(CAST(max(m) * max(ss) - max(s) * max(s) AS DOUBLE))
                       AS s_den
              FROM cum GROUP BY 1, 2, 3),
    rs AS (SELECT event_type, m,
                  round(sum(CAST(r_num AS DOUBLE) / s_den)
                        / count(*), 6) AS avg_rs,
                  CAST(count(*) AS BIGINT) AS n_blocks
           FROM blkrs WHERE s_den > 0 GROUP BY 1, 2)
    SELECT a.event_type,
           a.avg_rs AS avg_rs8, a.n_blocks AS n_blocks8,
           b.avg_rs AS avg_rs16, b.n_blocks AS n_blocks16,
           round(log2(b.avg_rs / a.avg_rs), 6) AS hurst
    FROM rs a JOIN rs b ON a.event_type = b.event_type
    WHERE a.m = 8 AND b.m = 16
    """,
)
def hurst_rs_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent (rescaled-range estimate) of each type's daily
    series: R/S per full block at sizes 8 and 16, H = log2 of the
    avg-R/S ratio (the two-point slope in log2 space) — H≈0.5 random
    walk, >0.5 persistent, <0.5 mean-reverting. Integer-exact core: with
    μ scaled away, the cumulative deviation C_k = Σ(m·x_i − S_block) is
    BIGINT, R = (maxC − minC)/m and S = sqrt(m·SS − S²)/m cancel to
    R/S = (maxC − minC)/sqrt(m·SS − S²) — integer numerator over an
    integer-argument sqrt. The per-(type,m) block average (≤4 doubles)
    and the final log2 follow the anova round-at-the-end tolerance, and
    H is computed from the ALREADY-ROUNDED averages so both engines feed
    log2 identical inputs. Constant blocks (S=0) are excluded
    identically. One (type,day) exchange + windows on day-frames."""
    c = _daily_event_counts(spark, sf_dir)
    wt = W.partitionBy("event_type")
    r = c.select(
        "event_type",
        "bidx",
        "cnt",
        F.row_number().over(wt.orderBy("bidx")).cast("long").alias("rn"),
        F.count(F.lit(1)).over(wt).cast("long").alias("n"),
    )
    rn1 = F.col("rn") - 1
    x = (
        # the two block sizes fan out IN-ROW (explode of a 2-element
        # array) — no crossJoin, no nested-loop join in the plan
        r.withColumn(
            "m", F.explode(F.array(F.lit(8).cast("long"), F.lit(16).cast("long")))
        )
        .withColumn("blk", ((rn1 - rn1 % F.col("m")) / F.col("m")).cast("long"))
        .filter(
            F.col("blk")
            < ((F.col("n") - F.col("n") % F.col("m")) / F.col("m")).cast("long")
        )
    )
    wb = W.partitionBy("event_type", "m", "blk")
    bs = x.select(
        "event_type",
        "m",
        "blk",
        "cnt",
        "rn",
        F.sum("cnt").over(wb).cast("long").alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).over(wb).cast("long").alias("ss"),
    )
    cum = bs.select(
        "event_type",
        "m",
        "blk",
        "s",
        "ss",
        F.sum(F.col("m") * F.col("cnt") - F.col("s"))
        .over(wb.orderBy("rn").rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("long")
        .alias("ck"),
    )
    blkrs = cum.groupBy("event_type", "m", "blk").agg(
        (F.max("ck") - F.min("ck")).cast("long").alias("r_num"),
        F.sqrt(
            (F.max("m") * F.max("ss") - F.max("s") * F.max("s")).cast("double")
        ).alias("s_den"),
    )
    rs = (
        blkrs.filter(F.col("s_den") > 0)
        .groupBy("event_type", "m")
        .agg(
            F.round(
                F.sum(F.col("r_num").cast("double") / F.col("s_den"))
                / F.count(F.lit(1)),
                6,
            ).alias("avg_rs"),
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
        )
    )
    a = rs.filter(F.col("m") == 8).select(
        "event_type",
        F.col("avg_rs").alias("avg_rs8"),
        F.col("n_blocks").alias("n_blocks8"),
    )
    b = rs.filter(F.col("m") == 16).select(
        F.col("event_type").alias("et_b"),
        F.col("avg_rs").alias("avg_rs16"),
        F.col("n_blocks").alias("n_blocks16"),
    )
    return (
        a.join(b, a.event_type == F.col("et_b"))
        .select(
            "event_type",
            "avg_rs8",
            "n_blocks8",
            "avg_rs16",
            "n_blocks16",
            F.round(F.log2(F.col("avg_rs16") / F.col("avg_rs8")), 6).alias(
                "hurst"
            ),
        )
    )


@register(
    "cohort_ltv_cumulative",
    """
    WITH o AS (
      SELECT o_custkey AS ck,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
               AS midx,
             o_totalprice AS rev
      FROM orders),
    fc AS (SELECT ck, CAST(min(midx) AS BIGINT) AS cohort FROM o GROUP BY ck),
    cs AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size
           FROM fc GROUP BY cohort),
    j AS (SELECT fc.cohort, o.midx - fc.cohort AS months_since, o.rev
          FROM o JOIN fc ON o.ck = fc.ck),
    m AS (SELECT cohort, CAST(months_since AS BIGINT) AS months_since,
                 sum(CAST(rev AS DECIMAL(18,6))) AS rev_m,
                 CAST(count(*) AS BIGINT) AS n_orders
          FROM j GROUP BY 1, 2),
    c AS (SELECT cohort, months_since, n_orders,
                 sum(rev_m) OVER (PARTITION BY cohort ORDER BY months_since
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_rev
          FROM m)
    SELECT c.cohort, c.months_since, c.n_orders, cs.cohort_size,
           round(CAST(c.cum_rev AS DOUBLE), 2) AS cum_revenue,
           round(CAST(c.cum_rev AS DOUBLE) / cs.cohort_size, 6)
             AS ltv_per_customer
    FROM c JOIN cs USING (cohort)
    """,
)
def cohort_ltv_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV triangle: customers grouped by first-order month, and
    each cohort's CUMULATIVE revenue per customer tracked by months since
    acquisition — the lifetime-value curve every growth team plots (the
    revenue-weighted companion to cohort_retention_weekly). Exactness:
    month index is integer (y·12+m), per-(cohort, month) revenue
    accumulates as DECIMAL, and the cumulative window adds DECIMALS in
    deterministic integer-month order — the one division to per-customer
    LTV runs on identical doubles. Shape: first-order agg + one fact join
    co-partitioned on custkey + the triangle window over the tiny
    (cohort × month) frame."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("midx"),
        F.col("o_totalprice").alias("rev"),
    )
    fc = o.groupBy("ck").agg(F.min("midx").cast("long").alias("cohort"))
    cs = fc.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    j = o.join(fc, "ck").select(
        "cohort", (F.col("midx") - F.col("cohort")).alias("months_since"), "rev"
    )
    m = j.groupBy("cohort", F.col("months_since").cast("long").alias("months_since")).agg(
        F.sum(F.col("rev").cast("decimal(18,6)")).alias("rev_m"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    wc = (
        W.partitionBy("cohort")
        .orderBy("months_since")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = m.select(
        "cohort",
        "months_since",
        "n_orders",
        F.sum("rev_m").over(wc).alias("cum_rev"),
    )
    return c.join(F.broadcast(cs), "cohort").select(
        "cohort",
        "months_since",
        "n_orders",
        "cohort_size",
        F.round(F.col("cum_rev").cast("double"), 2).alias("cum_revenue"),
        F.round(
            F.col("cum_rev").cast("double") / F.col("cohort_size"), 6
        ).alias("ltv_per_customer"),
    )


@register(
    "simpson_diversity_by_source",
    r"""
    WITH t AS (
      SELECT source, u.tok FROM (
        SELECT source,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents) d, unnest(d.toks) AS u(tok)),
    c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
          FROM t GROUP BY source, tok)
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           round(CAST(sum(c * (c - 1)) AS DOUBLE)
                 / (sum(c) * (sum(c) - 1)), 6) AS simpson_d,
           round(CAST(1 AS DOUBLE)
                 - CAST(sum(c * (c - 1)) AS DOUBLE)
                   / (sum(c) * (sum(c) - 1)), 6) AS gini_simpson
    FROM c GROUP BY source
    """,
)
def simpson_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson diversity index per source: the probability two token
    occurrences drawn WITHOUT replacement are the same type, Σc(c−1) /
    n(n−1), plus its Gini–Simpson complement — the concentration-based
    companion to lexical_diversity_sources' TTR (TTR counts types;
    Simpson weights by the full frequency distribution, so a source
    dominated by one boilerplate phrase scores low diversity even with a
    long type tail). ALL-INTEGER numerators and denominators; one
    division per source. Two keyed exchanges: (source, token) counts,
    then the per-source reduction."""
    from windflow_spark.functions.text import tokens

    docs = _t_wide(spark, sf_dir, "documents")
    c = (
        docs.select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    num = F.sum(F.col("c") * (F.col("c") - 1))
    den = F.sum("c") * (F.sum("c") - 1)
    return c.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.round(num.cast("double") / den, 6).alias("simpson_d"),
        F.round(F.lit(1.0) - num.cast("double") / den, 6).alias("gini_simpson"),
    )


@register(
    "eb_shrunk_return_rates",
    """
    WITH b AS (
      SELECT p.p_brand AS brand,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1),
    g AS (SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(x) AS BIGINT) AS xx
          FROM b)
    SELECT b.brand, b.n, b.x,
           round(CAST(b.x AS DOUBLE) / b.n, 6) AS raw_rate,
           round((b.x + 100 * (CAST(g.xx AS DOUBLE) / g.nn))
                 / (b.n + 100), 6) AS eb_rate,
           round(CAST(g.xx AS DOUBLE) / g.nn, 6) AS prior_rate
    FROM b CROSS JOIN g
    """,
)
def eb_shrunk_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes smoothed return rates per brand: each brand's raw
    rate shrunk toward the GLOBAL rate with fixed prior strength m=100
    pseudo-observations — (x + m·μ)/(n + m), the beta-binomial posterior
    mean that keeps small-n brands from topping rankings on noise (the
    target-encoding cousin of target_encode_loo_segment). μ = X/N is an
    exact integer rational, so every score is one fixed IEEE expression
    over exact inputs (a method-of-moments prior would need an
    order-sensitive variance over the brand frame; fixed-strength is the
    deterministic standard choice). One agg + a one-row scalar attach."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    b = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("long")
            .alias("x"),
        )
    )
    g = b.agg(
        F.sum("n").cast("long").alias("nn"), F.sum("x").cast("long").alias("xx")
    )
    mu = F.col("xx").cast("double") / F.col("nn")
    return b.crossJoin(F.broadcast(g)).select(
        "brand",
        "n",
        "x",
        F.round(F.col("x").cast("double") / F.col("n"), 6).alias("raw_rate"),
        F.round((F.col("x") + 100 * mu) / (F.col("n") + 100), 6).alias("eb_rate"),
        F.round(mu, 6).alias("prior_rate"),
    )


def _knn_graph_lsh_sql() -> str:
    from windflow_spark.functions.similarity import md5_sign_planes_sql_values

    return f"""
    WITH planes(i, pl) AS (VALUES {md5_sign_planes_sql_values(16, 64)}),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (
      SELECT vec_id,
             SUM(CASE WHEN list_dot_product(v, pl) > 0
                      THEN 1::BIGINT << i ELSE 0::BIGINT END) AS bucket
      FROM e, planes GROUP BY vec_id),
    t AS (SELECT vec_id, 1 AS tag, bucket & 15 AS bkt FROM b
          UNION ALL SELECT vec_id, 2, (bucket >> 4) & 15 FROM b
          UNION ALL SELECT vec_id, 3, (bucket >> 8) & 15 FROM b
          UNION ALL SELECT vec_id, 4, (bucket >> 12) & 15 FROM b),
    tok AS (SELECT vec_id, tag, bkt FROM (
              SELECT t.*, row_number() OVER (PARTITION BY tag, bkt
                            ORDER BY vec_id) AS _rn
              FROM t) WHERE _rn <= 200),
    p AS (SELECT DISTINCT a.vec_id AS qid, b2.vec_id AS cid
          FROM tok a JOIN tok b2
            ON a.tag = b2.tag AND a.bkt = b2.bkt AND a.vec_id <> b2.vec_id),
    sc AS (SELECT p.qid, p.cid,
                  round(list_cosine_similarity(ea.v, eb.v), 6) AS cos_sim
           FROM p JOIN e ea ON p.qid = ea.vec_id
                 JOIN e eb ON p.cid = eb.vec_id),
    r AS (SELECT qid, cid, cos_sim,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY cos_sim DESC, cid) AS rk
          FROM sc)
    SELECT qid AS vec_id, cid AS neighbor_id, cos_sim, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 3
    """


@register("knn_graph_lsh", _knn_graph_lsh_sql())
def knn_graph_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full KNN-GRAPH construction: EVERY vector gets its top-3 cosine
    neighbors among LSH candidates — the all-corpus artifact that
    embedding dedup, density clustering, and graph-ANN indexes are built
    from (sim_topk_lsh answers 10 external queries; this makes the whole
    corpus the query set, which is where naive plans go N²). FOUR LSH
    tables come FREE from one 16-plane signature (one 4-bit nibble each —
    md5-parity ±1 planes the oracle reproduces as literals); candidates
    are same-(table, bucket) pairs with a width cap (≤200 — the minhash
    bucket-cap move, so a degenerate bucket can't go quadratic), deduped
    across tables before the exact cosine. Config honesty: this corpus is
    near-ISOTROPIC (true neighbors barely above the bulk cosine), so the
    4×4-bit setting measures recall@3 ≈ 0.5 at ~23% of all-pairs cost
    (see knn_graph_recall); on real clustered embeddings the same
    machinery at more bits/tables gets the usual >0.9 — recall here is
    bounded by the data, not the plan. Cost: Σ_buckets w² with w
    capped — LINEAR in corpus at fixed cap; every join is a keyed
    equi-join (bucket, then vec_id for the vector fetch), no
    broadcast-of-corpus anywhere, so the plan survives a 10⁸-vector
    corpus by adding tables/planes rather than width."""
    from windflow_spark.functions.similarity import (
        as_double_array,
        cosine_prenorm,
        hyperplane_lsh_buckets,
        _norm,
    )

    emb = _t(spark, sf_dir, "embeddings")
    b = hyperplane_lsh_buckets(
        emb, "embedding", n_planes=16, plane_mode="md5-pm1"
    ).select("vec_id", "lsh_bucket")
    # four 4-bit tables from one 16-plane signature, fanned out IN-ROW
    t = b.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i + 1).alias("tag"),
                        F.shiftright("lsh_bucket", 4 * i)
                        .bitwiseAND(F.lit(15))
                        .alias("bkt"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("tb"),
    ).select("vec_id", "tb.tag", "tb.bkt")
    # over-width buckets are TRUNCATED to a deterministic 200-row prefix
    # (rank by vec_id) rather than dropped — bounded Σw² work with
    # graceful degradation: a dropout rule silently emptied the graph
    # once density pushed every bucket past the cap (sf1 probe).
    # r12 (guide §2.4, the minhash grouped-bucket move): ONE
    # groupBy(tag, bkt) collects each bucket's sorted id prefix and the
    # same-bucket pairs are expanded IN-ROW (both directions) — replacing
    # the window rank (exchange + sort) AND the bucket self-join (two
    # more exchanges of the 4×-corpus table frame) with a single keyed
    # aggregation; slice(sorted_ids, 1, 200) ≡ row_number ≤ 200 by vec_id.
    # the grouped frame is ≤ 64 rows (4 tables × 16 buckets) — AQE
    # coalesces it to one partition, which would serialize the quadratic
    # in-row expansion; round-robin fan-out to one bucket per task (the
    # r11 wedge-family anti-collapse move, 64 = the structural bucket
    # count, not a core-count tune)
    tok = (
        t.groupBy("tag", "bkt")
        .agg(
            F.slice(F.array_sort(F.collect_list("vec_id")), 1, 200).alias(
                "_ids"
            )
        )
        .repartition(64)
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("_ids"),
            lambda x, i: F.flatten(
                F.transform(
                    F.slice(
                        F.col("_ids"),
                        i + F.lit(2),
                        F.greatest(F.size("_ids") - i - F.lit(1), F.lit(0)),
                    ),
                    lambda y: F.array(
                        F.struct(x.alias("qid"), y.alias("cid")),
                        F.struct(y.alias("qid"), x.alias("cid")),
                    ),
                )
            ),
        )
    )
    p = (
        tok.select(F.explode(pair_arr).alias("pr"))
        .select("pr.qid", "pr.cid")
        .dropDuplicates(["qid", "cid"])
    )
    ev = emb.select(
        "vec_id", as_double_array("embedding").alias("_v")
    ).withColumn("_n", _norm(F.col("_v")))
    ea = ev.select(
        F.col("vec_id").alias("qid"), F.col("_v").alias("_qv"), F.col("_n").alias("_qn")
    )
    eb = ev.select(
        F.col("vec_id").alias("cid"), F.col("_v").alias("_cv"), F.col("_n").alias("_cn")
    )
    # r12 (guide §2.4): attach the candidate vector FIRST and the query
    # vector LAST — the qid equi-join leaves the scored frame hash(qid)
    # partitioned, so the top-3 window below needs only a sort, not
    # another exchange of the widest (two-vectors-per-row) frame
    sc = (
        p.join(eb, "cid")
        .join(ea, "qid")
        .withColumn(
            "cos_sim",
            F.round(
                cosine_prenorm(
                    F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")
                ),
                6,
            ),
        )
        .select("qid", "cid", "cos_sim")
    )
    w = W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "cid")
    return (
        sc.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select(
            F.col("qid").alias("vec_id"),
            F.col("cid").alias("neighbor_id"),
            "cos_sim",
            "rk",
        )
    )


@register(
    "readability_flesch_by_source",
    r"""
    WITH d AS (
      SELECT source,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS words,
             CAST(len(regexp_extract_all(lower(text), '[aeiou]+'))
                  AS BIGINT) AS syllables,
             CAST(greatest(len(regexp_extract_all(text, '[.!?]')), 1)
                  AS BIGINT) AS sentences
      FROM documents),
    g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(words) AS BIGINT) AS words,
                 CAST(sum(syllables) AS BIGINT) AS syllables,
                 CAST(sum(sentences) AS BIGINT) AS sentences
          FROM d WHERE words > 0 GROUP BY source)
    SELECT source, n_docs, words, syllables, sentences,
           round(CAST('206.835' AS DOUBLE)
                 - CAST('1.015' AS DOUBLE)
                   * (CAST(words AS DOUBLE) / sentences)
                 - CAST('84.6' AS DOUBLE)
                   * (CAST(syllables AS DOUBLE) / words), 6)
             AS flesch_reading_ease,
           round(CAST('0.39' AS DOUBLE) * (CAST(words AS DOUBLE) / sentences)
                 + CAST('11.8' AS DOUBLE)
                   * (CAST(syllables AS DOUBLE) / words)
                 - CAST('15.59' AS DOUBLE), 6) AS fk_grade_level
    FROM g
    """,
)
def readability_flesch_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease + Flesch–Kincaid grade per source — the
    readability gate of text-quality pipelines (syllables approximated as
    vowel-group runs, the standard heuristic; sentences as [.!?] marks,
    floored at 1 per doc). Corpus-level ratios come from SUMMED integer
    counts (Σwords/Σsentences, Σsyllables/Σwords — never an average of
    per-doc float ratios, the tokenizer_fertility discipline), so both
    engines evaluate one fixed IEEE formula over exact integers; the
    decimal coefficients parse from identical strings. Per-row regex work
    is scan-parallel (one pass); one keyed source agg."""
    docs = _t_wide(spark, sf_dir, "documents")
    from windflow_spark.functions.text import tokens

    d = docs.select(
        "source",
        F.size(tokens("text")).cast("long").alias("words"),
        F.regexp_count(F.lower(F.col("text")), F.lit("[aeiou]+"))
        .cast("long")
        .alias("syllables"),
        F.greatest(
            F.regexp_count(F.col("text"), F.lit("[.!?]")), F.lit(1)
        )
        .cast("long")
        .alias("sentences"),
    )
    g = d.filter(F.col("words") > 0).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("words").cast("long").alias("words"),
        F.sum("syllables").cast("long").alias("syllables"),
        F.sum("sentences").cast("long").alias("sentences"),
    )
    wps = F.col("words").cast("double") / F.col("sentences")
    spw = F.col("syllables").cast("double") / F.col("words")
    return g.select(
        "source",
        "n_docs",
        "words",
        "syllables",
        "sentences",
        F.round(
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 6
        ).alias("flesch_reading_ease"),
        F.round(
            F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 6
        ).alias("fk_grade_level"),
    )


def _knn_graph_recall_sql() -> str:
    from windflow_spark.functions.similarity import md5_sign_planes_sql_values

    return f"""
    WITH planes(i, pl) AS (VALUES {md5_sign_planes_sql_values(16, 64)}),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (
      SELECT vec_id,
             SUM(CASE WHEN list_dot_product(v, pl) > 0
                      THEN 1::BIGINT << i ELSE 0::BIGINT END) AS bucket
      FROM e, planes GROUP BY vec_id),
    t AS (SELECT vec_id, 1 AS tag, bucket & 15 AS bkt FROM b
          UNION ALL SELECT vec_id, 2, (bucket >> 4) & 15 FROM b
          UNION ALL SELECT vec_id, 3, (bucket >> 8) & 15 FROM b
          UNION ALL SELECT vec_id, 4, (bucket >> 12) & 15 FROM b),
    tok AS (SELECT vec_id, tag, bkt FROM (
              SELECT t.*, row_number() OVER (PARTITION BY tag, bkt
                            ORDER BY vec_id) AS _rn
              FROM t) WHERE _rn <= 200),
    qs AS (SELECT vec_id FROM e WHERE vec_id < 50),
    p AS (SELECT DISTINCT a.vec_id AS qid, b2.vec_id AS cid
          FROM tok a JOIN tok b2
            ON a.tag = b2.tag AND a.bkt = b2.bkt AND a.vec_id <> b2.vec_id
          WHERE a.vec_id IN (SELECT vec_id FROM qs)),
    lsh AS (SELECT qid, cid FROM (
              SELECT p.qid, p.cid,
                     row_number() OVER (PARTITION BY p.qid ORDER BY
                       round(list_cosine_similarity(ea.v, eb.v), 6) DESC,
                       p.cid) AS rk
              FROM p JOIN e ea ON p.qid = ea.vec_id
                    JOIN e eb ON p.cid = eb.vec_id)
            WHERE rk <= 3),
    bf AS (SELECT qid, cid FROM (
             SELECT qs.vec_id AS qid, e2.vec_id AS cid,
                    row_number() OVER (PARTITION BY qs.vec_id ORDER BY
                      round(list_cosine_similarity(eq.v, e2.v), 6) DESC,
                      e2.vec_id) AS rk
             FROM qs JOIN e eq ON qs.vec_id = eq.vec_id
                  JOIN e e2 ON e2.vec_id <> qs.vec_id)
           WHERE rk <= 3),
    hit AS (SELECT CAST(count(*) AS BIGINT) AS n_hits
            FROM bf JOIN lsh ON bf.qid = lsh.qid AND bf.cid = lsh.cid),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM bf)
    SELECT tot.n_truth, hit.n_hits,
           round(CAST(hit.n_hits AS DOUBLE) / tot.n_truth, 6) AS recall_at_3
    FROM tot CROSS JOIN hit
    """


@register("knn_graph_recall", _knn_graph_recall_sql())
def knn_graph_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@3 of the knn_graph_lsh construction against exact
    brute force on a DETERMINISTIC FIXED-SIZE query sample (vec_id < 50,
    constant cost at any corpus size) — the
    dedup_lsh_recall discipline applied to the KNN graph: never ship an
    ANN artifact without its measured-recall row. The brute-force side is
    BOUNDED (sample × corpus, the sim_topk_bruteforce contract), so the
    audit stays linear at any corpus size while the graph side reuses
    the capped-bucket pipeline."""
    from windflow_spark.functions.similarity import (
        as_double_array,
        cosine_prenorm,
        _norm,
    )

    emb = _t(spark, sf_dir, "embeddings")
    lsh = (
        knn_graph_lsh(spark, sf_dir)
        .filter(F.col("vec_id") < 50)
        .select(F.col("vec_id").alias("qid"), F.col("neighbor_id").alias("cid"))
    )
    ev = emb.select("vec_id", as_double_array("embedding").alias("_v")).withColumn(
        "_n", _norm(F.col("_v"))
    )
    qs = ev.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("qid"), F.col("_v").alias("_qv"), F.col("_n").alias("_qn")
    )
    bf_sc = (
        ev.join(F.broadcast(qs), F.col("vec_id") != F.col("qid"))
        .withColumn(
            "cos_sim",
            F.round(
                cosine_prenorm(F.col("_qv"), F.col("_v"), F.col("_qn"), F.col("_n")), 6
            ),
        )
    )
    wq = W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "vec_id")
    bf = (
        bf_sc.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= 3)
        .select("qid", F.col("vec_id").alias("cid"))
    )
    # r12: the single-pass count fold (sim_pq_recall/sim_lsh_recall) was
    # MEASURED WORSE here (1.68 → 1.94 same-session; broadcast variant
    # 1.30 → 1.65): both branches' exchanges are runtime-reused already
    # (the bf frame is 150 rows behind one window), so the fold only
    # perturbed the join layout. Kept in the two-consumer form.
    hit = bf.join(lsh, ["qid", "cid"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    tot = bf.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    return tot.crossJoin(F.broadcast(hit)).select(
        "n_truth",
        "n_hits",
        F.round(F.col("n_hits").cast("double") / F.col("n_truth"), 6).alias(
            "recall_at_3"
        ),
    )


@register(
    "auc_discount_predicts_return",
    """
    WITH j AS (
      SELECT CAST(l_discount * 100 AS BIGINT) AS s,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem),
    vc AS (SELECT s, CAST(count(*) AS BIGINT) AS c,
                  CAST(sum(y) AS BIGINT) AS cpos
           FROM j GROUP BY s),
    vr AS (SELECT s, c, cpos,
                  CAST(2 * (sum(c) OVER (ORDER BY s
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c)
                       + c + 1 AS BIGINT) AS ar2
           FROM vc),
    t AS (SELECT CAST(sum(cpos * ar2) AS BIGINT) AS r2pos,
                 CAST(sum(cpos) AS BIGINT) AS n1,
                 CAST(sum(c) - sum(cpos) AS BIGINT) AS n0
          FROM vr)
    SELECT n1 AS n_pos, n0 AS n_neg,
           round(CAST(r2pos - n1 * (n1 + 1) AS DOUBLE) / (2 * n1 * n0), 6)
             AS auc,
           round(CAST(r2pos - n1 * (n1 + 1) AS DOUBLE) / (n1 * n0) - 1, 6)
             AS gini
    FROM t
    """,
)
def auc_discount_predicts_return(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of "discount level predicts return" — the
    rank-statistic form (AUC = tie-adjusted Mann–Whitney U / n₁n₀)
    computed ENTIRELY from the ≤11-value distinct-score frame with the
    2×-average-rank trick: R2_pos = Σ cpos·ar2 stays BIGINT and AUC =
    (R2_pos − n₁(n₁+1)) / (2n₁n₀) is one division over exact integers —
    the standard ML-eval primitive done scan-parallel with NO global
    sort of scored rows (the mannwhitney caveat applies: this needs a
    low-cardinality score; bin continuous scores first). On this
    synthetic feed AUC ≈ 0.5 — a verified null, like anova's F≈1.
    Scores are integer percents (l_discount·100 is exact: cents-scale
    doubles) so the rank order is integer-defined on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    j = li.select(
        (F.col("l_discount") * 100).cast("long").alias("s"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    vc = j.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("y").cast("long").alias("cpos"),
    )
    wv = W.orderBy("s").rowsBetween(W.unboundedPreceding, W.currentRow)
    vr = vc.select(
        "s",
        "c",
        "cpos",
        (2 * (F.sum("c").over(wv) - F.col("c")) + F.col("c") + 1)
        .cast("long")
        .alias("ar2"),
    )
    t = vr.agg(
        F.sum(F.col("cpos") * F.col("ar2")).cast("long").alias("r2pos"),
        F.sum("cpos").cast("long").alias("n1"),
        (F.sum("c") - F.sum("cpos")).cast("long").alias("n0"),
    )
    num = F.col("r2pos") - F.col("n1") * (F.col("n1") + 1)
    return t.select(
        F.col("n1").alias("n_pos"),
        F.col("n0").alias("n_neg"),
        F.round(
            num.cast("double") / (2 * F.col("n1") * F.col("n0")), 6
        ).alias("auc"),
        F.round(num.cast("double") / (F.col("n1") * F.col("n0")) - 1, 6).alias(
            "gini"
        ),
    )


@register(
    "calibration_bins_brier",
    """
    WITH j AS (
      SELECT l_discount AS p,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem),
    b AS (SELECT p, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS n_pos,
                 sum(CAST((p - y) * (p - y) AS DECIMAL(18,6))) AS se
          FROM j GROUP BY p),
    g AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
                 CAST(sum(se) AS DOUBLE) AS se_tot
          FROM b)
    SELECT b.p AS bin_pred, b.n, b.n_pos,
           round(CAST(b.n_pos AS DOUBLE) / b.n, 6) AS obs_rate,
           round(CAST(b.n_pos AS DOUBLE) / b.n - b.p, 6) AS calib_gap,
           g.nt AS n_total,
           round(g.se_tot / g.nt, 6) AS brier
    FROM b CROSS JOIN g
    """,
)
def calibration_bins_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration table + Brier score treating the discount level as a
    (synthetic-proxy) predicted return probability: per predicted-value
    bin, observed rate and calibration gap; globally, Brier =
    Σ(p − y)²/n — the reliability-diagram companion to
    auc_discount_predicts_return (AUC measures ranking; calibration
    measures the probabilities themselves). (p − y)² has ≤4 decimal
    places exactly (p is cents-scale), so the squared-error total
    accumulates as EXACT DECIMAL; every emitted number is one IEEE op
    over exact inputs. One conditional agg + a one-row scalar attach."""
    li = _t(spark, sf_dir, "lineitem")
    j = li.select(
        F.col("l_discount").alias("p"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    diff = F.col("p") - F.col("y")
    b = j.groupBy("p").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        F.sum((diff * diff).cast("decimal(18,6)")).alias("se"),
    )
    g = b.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("se").cast("double").alias("se_tot"),
    )
    return b.crossJoin(F.broadcast(g)).select(
        F.col("p").alias("bin_pred"),
        "n",
        "n_pos",
        F.round(F.col("n_pos").cast("double") / F.col("n"), 6).alias("obs_rate"),
        F.round(
            F.col("n_pos").cast("double") / F.col("n") - F.col("p"), 6
        ).alias("calib_gap"),
        F.col("nt").alias("n_total"),
        F.round(F.col("se_tot") / F.col("nt"), 6).alias("brier"),
    )


# ---------------------------------------------------------------------------
# Batch r9: join how-matrix extensions (semi/anti/nearest/overlap)
# ---------------------------------------------------------------------------


@register(
    "interval_join_semi_clicks",
    f"""
    SELECT a.event_id AS click_id, a.user_id AS user_id,
           epoch_us(a.ts) AS click_us
    FROM events a
    WHERE a.event_type = 'click'
      AND EXISTS (SELECT 1 FROM events b
                  WHERE b.event_type = 'purchase'
                    AND b.user_id = a.user_id
                    AND epoch_us(b.ts) >= epoch_us(a.ts)
                    AND epoch_us(b.ts) <= epoch_us(a.ts) + {US_HOUR})
    """,
)
def interval_join_semi_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMI interval join: clicks followed by >=1 same-user purchase
    within 1h — the existence form of interval_join_kp. Spark's LEFT SEMI
    keeps the probe side single-copy (no match fan-out to dedup later,
    which is the difference between |A| and |matches| intermediate rows
    when conversion windows are dense); the time predicate rides the
    user-keyed shuffle equi-join as a residual, the interval_join_kp
    shape (reference wf/interval_join.hpp:279-313 — the reference has no
    semi form; free in Spark)."""
    from windflow_spark.operators.timeutil import event_micros

    ev = _t(spark, sf_dir, "events")
    us = event_micros(ev, "ts")
    a = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", us.alias("us")
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_uid"), us.alias("b_us")
    )
    j = a.join(
        b,
        (F.col("user_id") == F.col("b_uid"))
        & (F.col("b_us") >= F.col("us"))
        & (F.col("b_us") <= F.col("us") + F.lit(US_HOUR)),
        "left_semi",
    )
    return j.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("us").alias("click_us"),
    )


@register(
    "interval_join_anti_purchases",
    f"""
    SELECT a.event_id AS purchase_id, a.user_id AS user_id,
           a.value AS purchase_value
    FROM events a
    WHERE a.event_type = 'purchase'
      AND NOT EXISTS (SELECT 1 FROM events b
                      WHERE b.event_type = 'click'
                        AND b.user_id = a.user_id
                        AND epoch_us(b.ts) >= epoch_us(a.ts) - {US_HOUR}
                        AND epoch_us(b.ts) <= epoch_us(a.ts))
    """,
)
def interval_join_anti_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANTI interval join: 'cold' purchases with NO same-user click in the
    preceding hour — the negation form completing the §2.6 how-matrix
    (inner/left/right/full/semi/anti all oracle-checked now). LEFT ANTI
    with the residual time-range predicate on the keyed equi-join: one
    shuffle, never materializes the matches it rejects."""
    from windflow_spark.operators.timeutil import event_micros

    ev = _t(spark, sf_dir, "events")
    us = event_micros(ev, "ts")
    a = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "value", us.alias("us")
    )
    b = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("b_uid"), us.alias("b_us")
    )
    j = a.join(
        b,
        (F.col("user_id") == F.col("b_uid"))
        & (F.col("b_us") >= F.col("us") - F.lit(US_HOUR))
        & (F.col("b_us") <= F.col("us")),
        "left_anti",
    )
    return j.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("value").alias("purchase_value"),
    )


@register(
    "asof_join_nearest_click",
    f"""
    WITH p AS (
      SELECT event_id AS pid, user_id, epoch_us(ts) AS pus
      FROM events WHERE event_type = 'purchase'),
    c AS (
      SELECT user_id, min(event_id) AS cid, epoch_us(ts) AS cus
      FROM events WHERE event_type = 'click' GROUP BY user_id, epoch_us(ts)),
    cand AS (
      SELECT p.pid, p.user_id, p.pus, c.cid, c.cus,
             row_number() OVER (PARTITION BY p.pid
                                ORDER BY abs(c.cus - p.pus), c.cus) AS rn
      FROM p JOIN c ON p.user_id = c.user_id
                   AND abs(c.cus - p.pus) <= {US_2HOUR})
    SELECT p.pid AS purchase_id, p.user_id AS user_id,
           r.cid AS click_id, r.cus - p.pus AS delta_us
    FROM p LEFT JOIN (SELECT * FROM cand WHERE rn = 1) r ON p.pid = r.pid
    """,
)
def asof_join_nearest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join: each purchase matched with the same user's
    click closest in time in EITHER direction, within a ±2h tolerance
    (pandas merge_asof direction='nearest'; equal-distance ties take the
    earlier click) — the third as-of direction after backward/forward.
    The operator is two union+window fills (O(|A|+|B|), no ±tolerance
    range-join explosion); the ORACLE is the independent range-join +
    rank formulation, so the two derivations cross-check. Clicks are
    deduped to min event_id per (user, ts) first — the operator's
    documented same-ts discipline."""
    from windflow_spark.operators.asof_join import asof_join_nearest
    from windflow_spark.operators.timeutil import event_micros

    ev = _t(spark, sf_dir, "events")
    us = event_micros(ev, "ts")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", us.alias("pus")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", us.alias("cus"), "event_id")
        .groupBy("user_id", "cus")
        .agg(F.min("event_id").alias("cid"))
    )
    j = asof_join_nearest(
        p, c, ["user_id"], "pus", "cus", ["cid", "cus"], tolerance=US_2HOUR
    )
    return j.select(
        F.col("pid").alias("purchase_id"),
        "user_id",
        F.col("b_cid").alias("click_id"),
        (F.col("b_cus") - F.col("pus")).alias("delta_us"),
    )


@register(
    "overlap_join_customer_orders",
    """
    WITH w AS (
      SELECT o_custkey AS ck, o_orderkey AS ok, o_orderdate AS s,
             o_orderdate + to_days(CAST(7 + o_orderkey % 30 AS INTEGER)) AS e
      FROM orders)
    SELECT a.ck AS cust_key, a.ok AS order_a, b.ok AS order_b,
           CAST(date_diff('day', greatest(a.s, b.s), least(a.e, b.e))
                AS BIGINT) AS overlap_days
    FROM w a JOIN w b
      ON a.ck = b.ck AND a.ok < b.ok
     AND a.s <= b.e AND b.s <= a.e
    """,
)
def overlap_join_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP self-join: pairs of a customer's orders whose
    fulfillment windows [orderdate, orderdate + 7..36d] (length varies by
    key — a genuine overlap test, not a reducible band join) intersect —
    'concurrent open orders'. Keyed equi-join on custkey with the
    two-sided overlap residual (s_a <= e_b AND s_b <= e_a) and ok_a < ok_b
    pair dedup: per-customer fan-out is C(orders, 2) with ~10 orders per
    customer, so output stays linear in customers; a time-bucket blocked
    variant (interval_join_bucketed's move) is the escape hatch for keys
    with thousands of live intervals. Overlap length in exact integer
    days."""
    o = _t(spark, sf_dir, "orders")
    w = o.select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderkey").alias("ok"),
        F.col("o_orderdate").alias("s"),
        F.date_add(
            F.col("o_orderdate").cast("date"),
            (F.lit(7) + F.col("o_orderkey") % 30).cast("int"),
        )
        .cast("timestamp")
        .alias("e"),
    )
    a, b = w.alias("a"), w.alias("b")
    j = a.join(
        b,
        (F.col("a.ck") == F.col("b.ck"))
        & (F.col("a.ok") < F.col("b.ok"))
        & (F.col("a.s") <= F.col("b.e"))
        & (F.col("b.s") <= F.col("a.e")),
    )
    return j.select(
        F.col("a.ck").alias("cust_key"),
        F.col("a.ok").alias("order_a"),
        F.col("b.ok").alias("order_b"),
        F.datediff(
            F.least(F.col("a.e"), F.col("b.e")),
            F.greatest(F.col("a.s"), F.col("b.s")),
        )
        .cast("long")
        .alias("overlap_days"),
    )


# ---------------------------------------------------------------------------
# Batch r9: exact rank / hypothesis statistics (BIGINT pair counting)
# ---------------------------------------------------------------------------


# Cap on the collected (quantity, discount) cell table: the two domains
# give <=550 cells, so more means the input broke the low-cardinality
# assumption the driver-side fold relies on.
_KENDALL_CELL_CAP = 4096


@register(
    "kendall_tau_qty_discount",
    """
    WITH cells AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(l_discount * 100 AS BIGINT) AS y,
             CAST(count(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1, 2),
    pairs AS (
      SELECT CAST(sum(CASE WHEN b.y > a.y THEN a.c * b.c ELSE 0 END)
                  AS BIGINT) AS nc,
             CAST(sum(CASE WHEN b.y < a.y THEN a.c * b.c ELSE 0 END)
                  AS BIGINT) AS nd
      FROM cells a JOIN cells b ON b.x > a.x),
    tx AS (SELECT CAST(sum(g * (g - 1) / 2) AS BIGINT) AS n1
           FROM (SELECT sum(c) AS g FROM cells GROUP BY x)),
    ty AS (SELECT CAST(sum(g * (g - 1) / 2) AS BIGINT) AS n2
           FROM (SELECT sum(c) AS g FROM cells GROUP BY y)),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells)
    SELECT tot.n, pairs.nc, pairs.nd,
           round((pairs.nc - pairs.nd)
                 / sqrt((CAST(tot.n AS DOUBLE) * (tot.n - 1) / 2 - tx.n1)
                        * (CAST(tot.n AS DOUBLE) * (tot.n - 1) / 2 - ty.n2)),
                 6) AS tau_b
    FROM tot CROSS JOIN pairs CROSS JOIN tx CROSS JOIN ty
    """,
)
def kendall_tau_qty_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between quantity and discount —
    EXACT at any scale via contingency-cell pair counting: both columns
    are low-cardinality (50 x 11 values), so concordant/discordant pairs
    are sums over cell-pair products, never a row-pair join. One scan
    builds the <=550-row cell table, which is collected (bounded by the
    two domains, like the embedding_pca_power_iteration matrix) and
    folded in the driver with Python ints: per-x prefix sums over the y
    values give the concordant/discordant counts, and Σ g(g-1)/2 over
    the tied x (y) groups gives n1 (n2). tau_b divides by the
    tie-corrected pair counts in one final double op in Spark, over a
    one-row frame built in the JVM."""
    li = _t(spark, sf_dir, "lineitem")
    cells = (
        li.select(
            F.col("l_quantity").cast("long").alias("x"),
            (F.col("l_discount") * 100).cast("long").alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .collect()
    )
    if len(cells) > _KENDALL_CELL_CAP:
        raise ValueError(
            f"kendall_tau_qty_discount: {len(cells)} (quantity, discount) "
            f"cells exceed the {_KENDALL_CELL_CAP}-cell cap; the exact "
            "driver-side fold needs low-cardinality columns"
        )
    by_x: dict[int, dict[int, int]] = {}
    for x, y, c in cells:
        by_x.setdefault(x, {})[y] = c
    ys = sorted({y for _, y, _ in cells})
    below = {y: 0 for y in ys}  # count of cells with a smaller x, per y
    nc = nd = n = n1 = 0
    for x in sorted(by_x):
        row = by_x[x]
        lo, hi = 0, n  # cells with smaller x and smaller / larger y
        for y in ys:
            hi -= below[y]
            c = row.get(y, 0)
            nc += c * lo
            nd += c * hi
            lo += below[y]
        for y, c in row.items():
            below[y] += c
        g = sum(row.values())
        n += g
        n1 += g * (g - 1) // 2
    n2 = sum(g * (g - 1) // 2 for g in below.values())
    stats = {"n": n, "nc": nc, "nd": nd, "n1": n1, "n2": n2}
    # a SQL sum over no rows is NULL: the pair sums when fewer than two
    # x values exist, every sum when the input is empty
    if len(by_x) < 2:
        stats.update(nc=None, nd=None)
    if not cells:
        stats = dict.fromkeys(stats)
    n0 = F.col("n").cast("double") * (F.col("n") - 1) / 2
    return (
        spark.range(1)
        .select(*(F.lit(v).cast("long").alias(k) for k, v in stats.items()))
        .select(
            "n",
            "nc",
            "nd",
            F.round(
                (F.col("nc") - F.col("nd"))
                / F.sqrt((n0 - F.col("n1")) * (n0 - F.col("n2"))),
                6,
            ).alias("tau_b"),
        )
    )


@register(
    "two_proportion_ztest_returns",
    """
    WITH g AS (
      SELECT CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS grp,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem),
    s AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS x
          FROM g GROUP BY grp),
    w AS (SELECT max(CASE WHEN grp = 1 THEN n END) AS n1,
                 max(CASE WHEN grp = 1 THEN x END) AS x1,
                 max(CASE WHEN grp = 0 THEN n END) AS n2,
                 max(CASE WHEN grp = 0 THEN x END) AS x2
          FROM s)
    SELECT n1, x1, n2, x2,
           round(CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2, 6)
             AS rate_diff,
           round((CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
                 / sqrt((CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                        * (1 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                        * (CAST(1 AS DOUBLE) / n1 + CAST(1 AS DOUBLE) / n2)),
                 6) AS z_stat
    FROM w
    """,
)
def two_proportion_ztest_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test: is the return rate different for deep
    discounts (>5%) vs the rest? Pooled-variance z from four EXACT BIGINT
    counts (one conditional-agg scan; every double op is a final division
    over exact integers — nothing order-dependent). The proportions
    sibling of ab_test_welch (means) and chi2_segment_priority
    (k-way counts)."""
    li = _t(spark, sf_dir, "lineitem")
    g = li.select(
        F.when(F.col("l_discount") > 0.05, 1).otherwise(0).alias("grp"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    w = g.agg(
        F.sum(F.when(F.col("grp") == 1, 1)).cast("long").alias("n1"),
        F.sum(F.when(F.col("grp") == 1, F.col("y"))).cast("long").alias("x1"),
        F.sum(F.when(F.col("grp") == 0, 1)).cast("long").alias("n2"),
        F.sum(F.when(F.col("grp") == 0, F.col("y"))).cast("long").alias("x2"),
    )
    p1 = F.col("x1").cast("double") / F.col("n1")
    p2 = F.col("x2").cast("double") / F.col("n2")
    pp = (F.col("x1") + F.col("x2")).cast("double") / (F.col("n1") + F.col("n2"))
    se = F.sqrt(
        pp
        * (1 - pp)
        * (F.lit(1.0) / F.col("n1") + F.lit(1.0) / F.col("n2"))
    )
    return w.select(
        "n1",
        "x1",
        "n2",
        "x2",
        F.round(p1 - p2, 6).alias("rate_diff"),
        F.round((p1 - p2) / se, 6).alias("z_stat"),
    )


@register(
    "cohens_d_qty_returnflag",
    """
    WITH s AS (
      SELECT l_returnflag AS f, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
             CAST(sum(CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx
      FROM lineitem WHERE l_returnflag IN ('R', 'N') GROUP BY f),
    w AS (SELECT max(CASE WHEN f = 'R' THEN n END) AS n1,
                 max(CASE WHEN f = 'R' THEN sx END) AS sx1,
                 max(CASE WHEN f = 'R' THEN sxx END) AS sxx1,
                 max(CASE WHEN f = 'N' THEN n END) AS n2,
                 max(CASE WHEN f = 'N' THEN sx END) AS sx2,
                 max(CASE WHEN f = 'N' THEN sxx END) AS sxx2
          FROM s)
    SELECT n1, n2,
           round(CAST(sx1 AS DOUBLE) / n1, 6) AS mean_r,
           round(CAST(sx2 AS DOUBLE) / n2, 6) AS mean_n,
           round((CAST(sx1 AS DOUBLE) / n1 - CAST(sx2 AS DOUBLE) / n2)
                 / sqrt(((sxx1 - CAST(sx1 AS DOUBLE) * sx1 / n1)
                         + (sxx2 - CAST(sx2 AS DOUBLE) * sx2 / n2))
                        / (n1 + n2 - 2)),
                 6) AS cohens_d
    FROM w
    """,
)
def cohens_d_qty_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d effect size for quantity between returned (R) and kept
    (N) lines — the standardized-difference companion to the t/z tests.
    l_quantity is integral, so group sums and sums-of-squares are EXACT
    BIGINTs (the bollinger Σx/Σx² discipline); pooled SD and d are final
    double ops over exact integers, order-independent at any scale."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag").isin("R", "N"))
    q = F.col("l_quantity").cast("long")
    w = li.agg(
        F.sum(F.when(F.col("l_returnflag") == "R", 1)).cast("long").alias("n1"),
        F.sum(F.when(F.col("l_returnflag") == "R", q)).cast("long").alias("sx1"),
        F.sum(F.when(F.col("l_returnflag") == "R", q * q)).cast("long").alias("sxx1"),
        F.sum(F.when(F.col("l_returnflag") == "N", 1)).cast("long").alias("n2"),
        F.sum(F.when(F.col("l_returnflag") == "N", q)).cast("long").alias("sx2"),
        F.sum(F.when(F.col("l_returnflag") == "N", q * q)).cast("long").alias("sxx2"),
    )
    m1 = F.col("sx1").cast("double") / F.col("n1")
    m2 = F.col("sx2").cast("double") / F.col("n2")
    ss1 = F.col("sxx1") - F.col("sx1").cast("double") * F.col("sx1") / F.col("n1")
    ss2 = F.col("sxx2") - F.col("sx2").cast("double") * F.col("sx2") / F.col("n2")
    sp = F.sqrt((ss1 + ss2) / (F.col("n1") + F.col("n2") - 2))
    return w.select(
        "n1",
        "n2",
        F.round(m1, 6).alias("mean_r"),
        F.round(m2, 6).alias("mean_n"),
        F.round((m1 - m2) / sp, 6).alias("cohens_d"),
    )


@register(
    "roc_curve_discount_return",
    """
    WITH vc AS (
      SELECT CAST(l_discount * 100 AS BIGINT) AS thr,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS pos
      FROM lineitem GROUP BY 1),
    tot AS (SELECT CAST(sum(pos) AS BIGINT) AS tp_all,
                   CAST(sum(n - pos) AS BIGINT) AS fp_all
            FROM vc),
    cum AS (SELECT thr,
                   CAST(sum(pos) OVER (ORDER BY thr DESC) AS BIGINT) AS tp,
                   CAST(sum(n - pos) OVER (ORDER BY thr DESC) AS BIGINT) AS fp
            FROM vc)
    SELECT cum.thr AS thr_cents, cum.tp, cum.fp,
           round(CAST(cum.tp AS DOUBLE) / tot.tp_all, 6) AS tpr,
           round(CAST(cum.fp AS DOUBLE) / tot.fp_all, 6) AS fpr,
           round(CAST(cum.tp AS DOUBLE) / (cum.tp + cum.fp), 6) AS precision
    FROM cum CROSS JOIN tot
    """,
)
def roc_curve_discount_return(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ROC operating points behind auc_discount_predicts_return:
    at every distinct discount threshold (predict 'returned' when
    discount >= thr), TP/FP from suffix sums over the 11-row value-count
    frame — cumulative BIGINTs via a window over the TINY aggregated
    frame, so the curve costs one scan + O(V) window work regardless of
    corpus size. TPR/FPR/precision are exact rationals rounded once."""
    li = _t(spark, sf_dir, "lineitem")
    vc = (
        li.select(
            (F.col("l_discount") * 100).cast("long").alias("thr"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        )
        .groupBy("thr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("pos"),
        )
    )
    tot = vc.agg(
        F.sum("pos").cast("long").alias("tp_all"),
        F.sum(F.col("n") - F.col("pos")).cast("long").alias("fp_all"),
    )
    wd = W.orderBy(F.col("thr").desc()).rowsBetween(W.unboundedPreceding, 0)
    cum = vc.select(
        "thr",
        F.sum("pos").over(wd).cast("long").alias("tp"),
        F.sum(F.col("n") - F.col("pos")).over(wd).cast("long").alias("fp"),
    )
    return cum.crossJoin(F.broadcast(tot)).select(
        F.col("thr").alias("thr_cents"),
        "tp",
        "fp",
        F.round(F.col("tp").cast("double") / F.col("tp_all"), 6).alias("tpr"),
        F.round(F.col("fp").cast("double") / F.col("fp_all"), 6).alias("fpr"),
        F.round(
            F.col("tp").cast("double") / (F.col("tp") + F.col("fp")), 6
        ).alias("precision"),
    )


# ---------------------------------------------------------------------------
# Batch r9: time-series indicators (RANGE frames, stochastic, peaks, VWAP)
# ---------------------------------------------------------------------------


@register(
    "ts_vwap_ship_daily",
    """
    SELECT CAST(date_trunc('day', l_shipdate) AS DATE) AS day,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS volume,
           round(CAST(sum(CAST(l_extendedprice * l_quantity
                               AS DECIMAL(28,6))) AS DOUBLE)
                 / sum(CAST(l_quantity AS BIGINT)), 6) AS vwap
    FROM lineitem GROUP BY 1
    """,
)
def ts_vwap_ship_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily volume-weighted average price over shipped lines — the
    volume-weighted sibling of ts_twap_daily. The price x quantity inner
    product accumulates as DECIMAL(28,6) (price has 2dp, quantity is
    integral, so the products are exact at 2dp — the _dsum discipline
    widened for the product magnitude), the quantity denominator is an
    exact BIGINT, and VWAP is one final double division."""
    li = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    return (
        li.groupBy(F.date_trunc("day", F.col("l_shipdate")).cast("date").alias("day"))
        .agg(
            F.sum(q).cast("long").alias("volume"),
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * F.col("l_quantity")).cast(
                        "decimal(28,6)"
                    )
                ).cast("double")
                / F.sum(q),
                6,
            ).alias("vwap"),
        )
    )


@register(
    "ts_stochastic_14d",
    """
    WITH d AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    w AS (SELECT event_type, day, cnt,
                 min(cnt) OVER f AS lo, max(cnt) OVER f AS hi,
                 count(*) OVER f AS n
          FROM d
          WINDOW f AS (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
    k AS (SELECT event_type, day, cnt,
                 CASE WHEN n >= 14 AND hi > lo THEN
                   round(100.0 * (cnt - lo) / (hi - lo), 6) END AS pct_k
          FROM w)
    SELECT event_type, day, cnt, pct_k,
           CASE WHEN count(pct_k) OVER d3 = 3 THEN
             round(avg(pct_k) OVER d3, 6) END AS pct_d
    FROM k
    WINDOW d3 AS (PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def ts_stochastic_14d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator (%K over a 14-day channel, %D = 3-day SMA of
    %K) on the daily event-count series — the momentum companion of
    ts_donchian_channel_daily (whose min/max channel this reuses). All
    channel arithmetic is BIGINT-exact; %K is one division over exact
    integers rounded 6dp, and %D averages three ROUNDED %K values in
    frame order, so both engines fold identical doubles (the
    ts_seasonal_dow pre-rounding discipline). Warmup rows (n<14) and
    flat channels (hi=lo) emit NULL rather than divide-by-zero."""
    e = _t(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    f = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-13, 0)
    )
    w = d.select(
        "event_type",
        "day",
        "cnt",
        F.min("cnt").over(f).alias("lo"),
        F.max("cnt").over(f).alias("hi"),
        F.count(F.lit(1)).over(f).alias("n"),
    )
    k = w.select(
        "event_type",
        "day",
        "cnt",
        F.when(
            (F.col("n") >= 14) & (F.col("hi") > F.col("lo")),
            F.round(
                100.0 * (F.col("cnt") - F.col("lo")) / (F.col("hi") - F.col("lo")), 6
            ),
        ).alias("pct_k"),
    )
    d3 = W.partitionBy("event_type").orderBy("day").rowsBetween(-2, 0)
    return k.select(
        "event_type",
        "day",
        "cnt",
        "pct_k",
        F.when(
            F.count("pct_k").over(d3) == 3, F.round(F.avg("pct_k").over(d3), 6)
        ).alias("pct_d"),
    )


@register(
    "ts_peak_detect_daily",
    """
    WITH d AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    l AS (SELECT event_type, day, cnt,
                 lag(cnt) OVER w AS prev, lead(cnt) OVER w AS next
          FROM d
          WINDOW w AS (PARTITION BY event_type ORDER BY day))
    SELECT event_type, day, cnt,
           CAST(cnt - greatest(prev, next) AS BIGINT) AS prominence
    FROM l
    WHERE prev IS NOT NULL AND next IS NOT NULL
      AND cnt > prev AND cnt > next
    """,
)
def ts_peak_detect_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict local maxima of the daily event-count series (cnt above
    both neighbors; series edges excluded) with the one-step prominence
    cnt − max(neighbors) — the discrete peak detector feeding alerting
    and seasonality eyeballing. Pure BIGINT comparisons over one per-type
    day ordering (the lag/lead exchange shape); at 100 TB the window
    runs on the already-aggregated daily frame, three orders of magnitude
    smaller than the scan."""
    e = _t(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    w = W.partitionBy("event_type").orderBy("day")
    l = d.select(
        "event_type",
        "day",
        "cnt",
        F.lag("cnt").over(w).alias("prev"),
        F.lead("cnt").over(w).alias("next"),
    )
    return l.filter(
        F.col("prev").isNotNull()
        & F.col("next").isNotNull()
        & (F.col("cnt") > F.col("prev"))
        & (F.col("cnt") > F.col("next"))
    ).select(
        "event_type",
        "day",
        "cnt",
        (F.col("cnt") - F.greatest("prev", "next")).cast("long").alias("prominence"),
    )


@register(
    "win_range_frame_sum",
    f"""
    WITH d AS (
      SELECT event_type, CAST(epoch_us(ts) // {US_DAY} AS BIGINT) AS didx,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2)
    SELECT event_type, make_timestamp(didx * {US_DAY}) AS day,
           cnt,
           CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY didx
                               RANGE BETWEEN 3 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cnt_4d,
           CAST(count(*) OVER (PARTITION BY event_type ORDER BY didx
                               RANGE BETWEEN 3 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS days_present
    FROM d
    """,
)
def win_range_frame_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window aggregation (value-based frame bounds, DISTINCT
    from every ROWS frame in the registry): the trailing 4-day event
    count per type where the frame is defined by the day-index VALUE, so
    calendar gaps shrink the frame instead of silently widening it the
    way a ROWS frame does on sparse series — days_present exposes
    exactly that difference. BIGINT-exact; one window over the daily
    aggregate."""
    e = _t(spark, sf_dir, "events")
    from windflow_spark.operators.timeutil import event_micros

    us = event_micros(e, "ts")
    d = e.groupBy(
        "event_type",
        ((us - us % F.lit(US_DAY)) / F.lit(US_DAY)).cast("long").alias("didx"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    w = (
        W.partitionBy("event_type")
        .orderBy("didx")
        .rangeBetween(-3, 0)
    )
    return d.select(
        "event_type",
        F.timestamp_micros(F.col("didx") * F.lit(US_DAY)).alias("day"),
        "cnt",
        F.sum("cnt").over(w).cast("long").alias("cnt_4d"),
        F.count(F.lit(1)).over(w).cast("long").alias("days_present"),
    )


# ---------------------------------------------------------------------------
# Batch r9: KMV (k-minimum-values) distinct sketches — deterministic,
# engine-portable md5 hashing, exact integer machinery until one division
# ---------------------------------------------------------------------------

_KMV_K = 64
_KMV_M = 16**15  # hash space: 15 hex digits = 60 bits


@register(
    "kmv_distinct_users",
    f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS hv
      FROM events),
    r AS (SELECT event_type, hv,
                 row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rk
          FROM h),
    k AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
                 CAST(max(hv) AS BIGINT) AS h_k
          FROM r WHERE rk <= {_KMV_K} GROUP BY event_type),
    x AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
          FROM events GROUP BY event_type)
    SELECT x.event_type AS event_type, x.n_exact,
           round(CASE WHEN k.n_kept < {_KMV_K} THEN CAST(k.n_kept AS DOUBLE)
                 ELSE ({_KMV_K} - 1) * CAST({_KMV_M} AS DOUBLE) / k.h_k END,
                 6) AS kmv_est,
           round(abs(CASE WHEN k.n_kept < {_KMV_K} THEN CAST(k.n_kept AS DOUBLE)
                     ELSE ({_KMV_K} - 1) * CAST({_KMV_M} AS DOUBLE) / k.h_k END
                     - x.n_exact) / x.n_exact, 6) AS rel_err
    FROM x JOIN k ON x.event_type = k.event_type
    """,
)
def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch per event type, k=64:
    keep the k smallest md5 hash values of the key; the estimator is
    (k-1)·M/h_k (hashes uniform on [0, M), M = 2^60). DETERMINISTIC and
    engine-portable — md5 is md5 in both engines, ranks and h_k are
    exact BIGINTs, the estimate is ONE double division — unlike
    HLL (approx_distinct_users), whose register layout is
    engine-internal; this is the mergeable distinct sketch you can
    value-test cross-engine, and the k-smallest-per-key shape is one
    window over the deduped hash frame (or a TopK aggregate at 100 TB).
    Sets smaller than k report their exact size (h_k undefined there).
    Measured vs the exact distinct in-row (rel_err)."""
    e = _t(spark, sf_dir, "events")
    hv = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    h = e.select("event_type", hv.alias("hv")).distinct()
    r = h.withColumn(
        "rk", F.row_number().over(W.partitionBy("event_type").orderBy("hv"))
    )
    k = (
        r.filter(F.col("rk") <= _KMV_K)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.max("hv").cast("long").alias("h_k"),
        )
    )
    x = e.groupBy("event_type").agg(
        F.count_distinct(F.col("user_id")).cast("long").alias("n_exact")
    )
    est = F.when(
        F.col("n_kept") < _KMV_K, F.col("n_kept").cast("double")
    ).otherwise(F.lit(float(_KMV_K - 1)) * F.lit(float(_KMV_M)) / F.col("h_k"))
    return x.join(k, "event_type").select(
        "event_type",
        "n_exact",
        F.round(est, 6).alias("kmv_est"),
        F.round(F.abs(est - F.col("n_exact")) / F.col("n_exact"), 6).alias(
            "rel_err"
        ),
    )


@register(
    "kmv_union_intersect_users",
    f"""
    WITH ha AS (SELECT DISTINCT
                  ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS hv
                FROM events WHERE event_type = 'click'),
    hb AS (SELECT DISTINCT
             ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS hv
           FROM events WHERE event_type = 'purchase'),
    hu AS (SELECT hv FROM ha UNION SELECT hv FROM hb),
    ka AS (SELECT CAST(max(hv) AS BIGINT) AS h_k, count(*) AS nk FROM (
             SELECT hv FROM ha ORDER BY hv LIMIT {_KMV_K})),
    kb AS (SELECT CAST(max(hv) AS BIGINT) AS h_k, count(*) AS nk FROM (
             SELECT hv FROM hb ORDER BY hv LIMIT {_KMV_K})),
    ku AS (SELECT CAST(max(hv) AS BIGINT) AS h_k, count(*) AS nk FROM (
             SELECT hv FROM hu ORDER BY hv LIMIT {_KMV_K})),
    xact AS (SELECT CAST(count(*) AS BIGINT) AS n_inter
             FROM ha JOIN hb ON ha.hv = hb.hv)
    SELECT
      round(CASE WHEN ka.nk < {_KMV_K} THEN CAST(ka.nk AS DOUBLE)
            ELSE ({_KMV_K} - 1) * CAST({_KMV_M} AS DOUBLE) / ka.h_k END, 6)
        AS est_a,
      round(CASE WHEN kb.nk < {_KMV_K} THEN CAST(kb.nk AS DOUBLE)
            ELSE ({_KMV_K} - 1) * CAST({_KMV_M} AS DOUBLE) / kb.h_k END, 6)
        AS est_b,
      round(CASE WHEN ku.nk < {_KMV_K} THEN CAST(ku.nk AS DOUBLE)
            ELSE ({_KMV_K} - 1) * CAST({_KMV_M} AS DOUBLE) / ku.h_k END, 6)
        AS est_union,
      round(CASE WHEN ka.nk < {_KMV_K} THEN CAST(ka.nk AS DOUBLE)
            ELSE ({_KMV_K} - 1) * CAST({_KMV_M} AS DOUBLE) / ka.h_k END
            + CASE WHEN kb.nk < {_KMV_K} THEN CAST(kb.nk AS DOUBLE)
              ELSE ({_KMV_K} - 1) * CAST({_KMV_M} AS DOUBLE) / kb.h_k END
            - CASE WHEN ku.nk < {_KMV_K} THEN CAST(ku.nk AS DOUBLE)
              ELSE ({_KMV_K} - 1) * CAST({_KMV_M} AS DOUBLE) / ku.h_k END, 6)
        AS est_intersect,
      xact.n_inter AS exact_intersect
    FROM ka CROSS JOIN kb CROSS JOIN ku CROSS JOIN xact
    """,
)
def kmv_union_intersect_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set-operation estimates: |clickers ∪ purchasers| from the KMV
    of the hash-set union (sketches merge by just unioning hash sets and
    re-truncating to k — the mergeability HLL has, with cross-engine
    determinism HLL lacks), and |∩| by inclusion-exclusion — vs the
    exact intersection computed alongside. The union sketch never
    touches row-scale data twice: distinct hash frames are
    set-unioned, then one global k-smallest truncation."""
    e = _t(spark, sf_dir, "events")
    hv = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    ha = e.filter(F.col("event_type") == "click").select(hv.alias("hv")).distinct()
    hb = (
        e.filter(F.col("event_type") == "purchase").select(hv.alias("hv")).distinct()
    )
    hu = ha.union(hb).distinct()

    def kmin(df):
        return (
            df.orderBy("hv")
            .limit(_KMV_K)
            .agg(
                F.max("hv").cast("long").alias("h_k"),
                F.count(F.lit(1)).alias("nk"),
            )
        )

    def est(pfx):
        return F.when(
            F.col(f"{pfx}nk") < _KMV_K, F.col(f"{pfx}nk").cast("double")
        ).otherwise(
            F.lit(float(_KMV_K - 1)) * F.lit(float(_KMV_M)) / F.col(f"{pfx}h_k")
        )

    ka = kmin(ha).select(F.col("h_k").alias("a_h_k"), F.col("nk").alias("a_nk"))
    kb = kmin(hb).select(F.col("h_k").alias("b_h_k"), F.col("nk").alias("b_nk"))
    ku = kmin(hu).select(F.col("h_k").alias("u_h_k"), F.col("nk").alias("u_nk"))
    xact = ha.join(hb, "hv", "left_semi").agg(
        F.count(F.lit(1)).cast("long").alias("n_inter")
    )
    return (
        ka.crossJoin(F.broadcast(kb))
        .crossJoin(F.broadcast(ku))
        .crossJoin(F.broadcast(xact))
        .select(
            F.round(est("a_"), 6).alias("est_a"),
            F.round(est("b_"), 6).alias("est_b"),
            F.round(est("u_"), 6).alias("est_union"),
            F.round(est("a_") + est("b_") - est("u_"), 6).alias("est_intersect"),
            F.col("n_inter").alias("exact_intersect"),
        )
    )


# ---------------------------------------------------------------------------
# Batch r9: ordered aggregation / outlier audit / portmanteau test
# ---------------------------------------------------------------------------


@register(
    "string_agg_top_parts",
    """
    WITH r AS (
      SELECT p_brand, p_name, p_retailprice,
             row_number() OVER (PARTITION BY p_brand
                                ORDER BY p_retailprice DESC, p_name) AS rk
      FROM part)
    SELECT p_brand,
           string_agg(p_name, ',' ORDER BY rk) AS top_names,
           round(sum(CAST(p_retailprice AS DECIMAL(18,6))), 2)::DOUBLE
             AS top_price_sum
    FROM r WHERE rk <= 3
    GROUP BY p_brand
    """,
)
def string_agg_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED string aggregation: each brand's three priciest part names
    joined in rank order — the LISTAGG/string_agg surface, which is only
    deterministic with an explicit order. Spark has no ordered
    string_agg, so the discipline is collect_list of (rank, name)
    structs -> array_sort (rank is the struct's first field, so struct
    order IS rank order) -> transform to names -> array_join: exact
    parity with the oracle's string_agg(... ORDER BY rk), shuffle-free
    beyond the one brand grouping. Price sum follows _dsum."""
    p = _t(spark, sf_dir, "part")
    rk = F.row_number().over(
        W.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), "p_name")
    )
    top = p.select("p_brand", "p_name", "p_retailprice", rk.alias("rk")).filter(
        F.col("rk") <= 3
    )
    return top.groupBy("p_brand").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rk", "p_name"))),
                lambda s: s["p_name"],
            ),
            ",",
        ).alias("top_names"),
        _dsum(F.col("p_retailprice")).alias("top_price_sum"),
    )


@register(
    "iqr_outlier_audit_segments",
    """
    WITH q AS (
      SELECT c_mktsegment,
             quantile_cont(c_acctbal, 0.25) AS q1,
             quantile_cont(c_acctbal, 0.75) AS q3
      FROM customer GROUP BY c_mktsegment)
    SELECT c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n,
           round(q.q1, 6) AS q1, round(q.q3, 6) AS q3,
           CAST(sum(CASE WHEN c.c_acctbal < q.q1 - 1.5 * (q.q3 - q.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_low_outliers,
           CAST(sum(CASE WHEN c.c_acctbal > q.q3 + 1.5 * (q.q3 - q.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers
    FROM customer c JOIN q ON c.c_mktsegment = q.c_mktsegment
    GROUP BY c.c_mktsegment, q.q1, q.q3
    """,
)
def iqr_outlier_audit_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier audit: per market segment, account balances
    beyond 1.5 x IQR of the segment's exact quartiles — the
    data-quality screen that catches feed corruption before it skews
    models. Two passes over the dim-sized table (quartiles, then a
    broadcast join back for the fence counts); exact interpolated
    percentiles value-match quantile_cont (price_quartiles discipline),
    and the fence comparisons are raw IEEE ops on identical doubles."""
    c = _t(spark, sf_dir, "customer")
    q = c.groupBy("c_mktsegment").agg(
        F.percentile(F.col("c_acctbal"), F.lit(0.25)).alias("q1"),
        F.percentile(F.col("c_acctbal"), F.lit(0.75)).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    j = c.join(F.broadcast(q), "c_mktsegment")
    return j.groupBy(F.col("c_mktsegment").alias("segment"), "q1", "q3").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(F.col("c_acctbal") < F.col("q1") - 1.5 * iqr, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_low_outliers"),
        F.sum(
            F.when(F.col("c_acctbal") > F.col("q3") + 1.5 * iqr, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_high_outliers"),
    ).select(
        "segment",
        "n",
        F.round("q1", 6).alias("q1"),
        F.round("q3", 6).alias("q3"),
        "n_low_outliers",
        "n_high_outliers",
    )


@register(
    "ljung_box_daily_events",
    f"""
    WITH c AS (
      SELECT event_type, CAST(epoch_us(ts) // {US_DAY} AS BIGINT) AS bidx,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    l AS (SELECT event_type, bidx, cnt,
                 lag(cnt, 1) OVER w AS l1,
                 lag(cnt, 2) OVER w AS l2,
                 lag(cnt, 3) OVER w AS l3
          FROM c WINDOW w AS (PARTITION BY event_type ORDER BY bidx)),
    s AS (SELECT event_type, 1 AS lag_k, cnt, l1 AS prev FROM l
          WHERE l1 IS NOT NULL
          UNION ALL
          SELECT event_type, 2, cnt, l2 FROM l WHERE l2 IS NOT NULL
          UNION ALL
          SELECT event_type, 3, cnt, l3 FROM l WHERE l3 IS NOT NULL),
    r AS (SELECT event_type, lag_k, round(corr(cnt, prev), 6) AS rk
          FROM s GROUP BY event_type, lag_k),
    n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM c
          GROUP BY event_type)
    SELECT n.event_type AS event_type, n.n AS n_days,
           round(n.n * (n.n + 2.0)
                 * sum(r.rk * r.rk / (n.n - r.lag_k)), 4) AS q_lb
    FROM n JOIN r ON n.event_type = r.event_type
    GROUP BY n.event_type, n.n
    """,
)
def ljung_box_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau statistic (lags 1-3) on the daily
    event-count series per type: Q = n(n+2) Σ r_k²/(n−k) — 'is there ANY
    autocorrelation', the one-number companion to ts_acf_daily's
    per-lag view (same lagged-pairs derivation; the sample
    autocorrelations are the Pearson r over (t, t−k) pairs). r_k is
    6dp-rounded BEFORE entering Q so both engines fold identical
    doubles (the ts_seasonal_dow pre-rounding discipline); everything
    upstream is BIGINT counts on the day-aggregated frame."""
    e = _t(spark, sf_dir, "events")
    from windflow_spark.operators.timeutil import event_micros

    us = event_micros(e, "ts")
    c = e.groupBy(
        "event_type",
        ((us - us % F.lit(US_DAY)) / F.lit(US_DAY)).cast("long").alias("bidx"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    w = W.partitionBy("event_type").orderBy("bidx")
    l = c.select(
        "event_type",
        "cnt",
        F.lag("cnt", 1).over(w).alias("l1"),
        F.lag("cnt", 2).over(w).alias("l2"),
        F.lag("cnt", 3).over(w).alias("l3"),
    )
    s = None
    for k in (1, 2, 3):
        part = l.filter(F.col(f"l{k}").isNotNull()).select(
            "event_type",
            F.lit(k).alias("lag_k"),
            "cnt",
            F.col(f"l{k}").alias("prev"),
        )
        s = part if s is None else s.unionByName(part)
    r = s.groupBy("event_type", "lag_k").agg(
        F.round(F.corr("cnt", "prev"), 6).alias("rk")
    )
    n = c.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        n.join(r, "event_type")
        .groupBy("event_type", "n")
        .agg(
            F.round(
                F.col("n")
                * (F.col("n") + 2.0)
                * F.sum(
                    F.col("rk") * F.col("rk") / (F.col("n") - F.col("lag_k"))
                ),
                4,
            ).alias("q_lb")
        )
        .select("event_type", F.col("n").alias("n_days"), "q_lb")
    )


# ---------------------------------------------------------------------------
# Batch r9: concentration / trend / outlier statistics + label propagation
# ---------------------------------------------------------------------------


@register(
    "lorenz_curve_deciles",
    """
    WITH r AS (
      SELECT o_custkey AS ck,
             sum(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
      FROM orders GROUP BY o_custkey),
    d AS (SELECT ck, rev, ntile(10) OVER (ORDER BY rev, ck) AS decile
          FROM r),
    g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_cust,
                 sum(rev) AS rev_d
          FROM d GROUP BY decile),
    t AS (SELECT sum(rev_d) AS rev_tot FROM g)
    SELECT g.decile, g.n_cust,
           round(CAST(g.rev_d AS DOUBLE), 2) AS decile_rev,
           round(CAST(sum(g.rev_d) OVER (ORDER BY g.decile) AS DOUBLE)
                 / CAST(t.rev_tot AS DOUBLE), 6) AS cum_rev_share
    FROM g CROSS JOIN t
    """,
)
def lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve operating points behind revenue_gini_segments: rank
    customers by revenue (exact DECIMAL sums; (rev, ck) total order makes
    ntile deterministic), then each decile's cumulative share of total
    revenue. Decile sums and the 10-row cumulative are DECIMAL-exact;
    the share is one double division per output row. The ntile is a
    single global sort of the CUSTOMER-grain frame (dim-sized, the
    gains_table_deciles caveat: range-partitioned two-pass rank at
    100 TB)."""
    o = _t(spark, sf_dir, "orders")
    r = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("rev")
    )
    d = r.select(
        "ck", "rev", F.ntile(10).over(W.orderBy("rev", "ck")).alias("decile")
    )
    g = d.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_cust"),
        F.sum("rev").alias("rev_d"),
    )
    t = g.agg(F.sum("rev_d").alias("rev_tot"))
    wc = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    return g.crossJoin(F.broadcast(t)).select(
        "decile",
        "n_cust",
        F.round(F.col("rev_d").cast("double"), 2).alias("decile_rev"),
        F.round(
            F.sum("rev_d").over(wc).cast("double") / F.col("rev_tot").cast("double"),
            6,
        ).alias("cum_rev_share"),
    )


@register(
    "herfindahl_customer_concentration",
    """
    WITH r AS (
      SELECT c.c_mktsegment AS segment, o.o_custkey AS ck,
             sum(CAST(o.o_totalprice AS DECIMAL(18,6))) AS rev
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2)
    SELECT segment, CAST(count(*) AS BIGINT) AS n_customers,
           round(CAST(sum(rev * rev) AS DOUBLE)
                 / (CAST(sum(rev) AS DOUBLE) * CAST(sum(rev) AS DOUBLE)),
                 6) AS hhi,
           round((CAST(sum(rev * rev) AS DOUBLE)
                  / (CAST(sum(rev) AS DOUBLE) * CAST(sum(rev) AS DOUBLE))
                  - 1.0 / count(*)) / (1 - 1.0 / count(*)), 6)
             AS hhi_normalized
    FROM r GROUP BY segment
    """,
)
def herfindahl_customer_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman revenue-concentration index per market
    segment — 'is this segment a few whales or a long tail', the
    concentration companion of revenue_gini_segments / theil_index.
    HHI = Σ share² computed as Σrev² / (Σrev)² over exact DECIMAL
    customer revenues (summing rounded double shares would be
    order-dependent — the _dsum discipline applied to a QUADRATIC
    statistic; rev² stays inside DECIMAL(38,12) headroom), normalized
    to [0,1] by the 1/n floor. Two keyed aggregations, no window."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    r = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), F.col("o_custkey").alias("ck"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("rev"))
    )
    g = r.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(F.col("rev") * F.col("rev")).alias("s2"),
        F.sum("rev").alias("s1"),
    )
    hhi = F.col("s2").cast("double") / (
        F.col("s1").cast("double") * F.col("s1").cast("double")
    )
    floor = F.lit(1.0) / F.col("n_customers")
    return g.select(
        "segment",
        "n_customers",
        F.round(hhi, 6).alias("hhi"),
        F.round((hhi - floor) / (1 - floor), 6).alias("hhi_normalized"),
    )


@register(
    "rolling_slope_7d_daily",
    f"""
    WITH d AS (
      SELECT event_type, CAST(epoch_us(ts) // {US_DAY} AS BIGINT) AS x,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    w AS (SELECT event_type, x, y,
                 count(*) OVER f AS n,
                 sum(x) OVER f AS sx, sum(y) OVER f AS sy,
                 sum(x * y) OVER f AS sxy, sum(x * x) OVER f AS sxx
          FROM d
          WINDOW f AS (PARTITION BY event_type ORDER BY x
                       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
    SELECT event_type, make_timestamp(x * {US_DAY}) AS day, y,
           CASE WHEN n = 7 AND n * sxx - sx * sx <> 0 THEN
             round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                   / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
           END AS slope_7d
    FROM w
    """,
)
def rolling_slope_7d_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day OLS trend slope of the daily event-count series —
    the rolling-regression sibling of ts_rolling_corr, computed from
    BIGINT co-moment sums over the ROWS frame (x is the day index, y the
    count — both integral, so nΣxy − ΣxΣy is EXACT at any window
    position; day indices ~20k keep n·Σxx ≈ 5e13 well inside BIGINT).
    One window over the day-aggregated frame; warmup rows emit NULL."""
    e = _t(spark, sf_dir, "events")
    from windflow_spark.operators.timeutil import event_micros

    us = event_micros(e, "ts")
    d = e.groupBy(
        "event_type",
        ((us - us % F.lit(US_DAY)) / F.lit(US_DAY)).cast("long").alias("x"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    f = W.partitionBy("event_type").orderBy("x").rowsBetween(-6, 0)
    w = d.select(
        "event_type",
        "x",
        "y",
        F.count(F.lit(1)).over(f).alias("n"),
        F.sum("x").over(f).alias("sx"),
        F.sum("y").over(f).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(f).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(f).alias("sxx"),
    )
    num = F.col("n").cast("double") * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.col("n").cast("double") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    return w.select(
        "event_type",
        F.timestamp_micros(F.col("x") * F.lit(US_DAY)).alias("day"),
        "y",
        F.when((F.col("n") == 7) & (den != 0), F.round(num / den, 6)).alias(
            "slope_7d"
        ),
    )


@register(
    "grubbs_statistic_daily",
    f"""
    WITH d AS (
      SELECT event_type, CAST(epoch_us(ts) // {US_DAY} AS BIGINT) AS bidx,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(cnt) AS BIGINT) AS sx,
                 CAST(sum(cnt * cnt) AS BIGINT) AS sxx
          FROM d GROUP BY event_type),
    g AS (SELECT d.event_type, d.bidx, d.cnt, s.n,
                 CAST(s.sx AS DOUBLE) / s.n AS m,
                 sqrt((s.sxx - CAST(s.sx AS DOUBLE) * s.sx / s.n)
                      / (s.n - 1)) AS sd
          FROM d JOIN s ON d.event_type = s.event_type),
    r AS (SELECT event_type, bidx, cnt, n,
                 round(abs(cnt - m) / sd, 6) AS gval,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY abs(cnt - m) DESC, bidx) AS rk
          FROM g WHERE sd > 0)
    SELECT event_type, n AS n_days,
           make_timestamp(bidx * {US_DAY}) AS argmax_day,
           cnt AS extreme_cnt, gval AS g_stat
    FROM r WHERE rk = 1
    """,
)
def grubbs_statistic_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs (maximum normed residual) statistic per event type: the
    most extreme day of the daily count series, G = max|x − mean|/sd —
    the single-outlier screen that precedes trimming/winsorizing. Mean
    and SD come from EXACT BIGINT Σx/Σx² (integral counts), the argmax
    is a deterministic (|dev|, day) ranking, and G is IEEE ops over
    exact inputs. One day-grain aggregation + one scalar-sized join."""
    e = _t(spark, sf_dir, "events")
    from windflow_spark.operators.timeutil import event_micros

    us = event_micros(e, "ts")
    d = e.groupBy(
        "event_type",
        ((us - us % F.lit(US_DAY)) / F.lit(US_DAY)).cast("long").alias("bidx"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    s = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cnt").cast("long").alias("sx"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("sxx"),
    )
    m = F.col("sx").cast("double") / F.col("n")
    sd = F.sqrt(
        (F.col("sxx") - F.col("sx").cast("double") * F.col("sx") / F.col("n"))
        / (F.col("n") - 1)
    )
    g = d.join(F.broadcast(s), "event_type").select(
        "event_type", "bidx", "cnt", "n", m.alias("m"), sd.alias("sd")
    )
    rk = F.row_number().over(
        W.partitionBy("event_type").orderBy(
            F.abs(F.col("cnt") - F.col("m")).desc(), "bidx"
        )
    )
    r = (
        g.filter(F.col("sd") > 0)
        .select(
            "event_type",
            "bidx",
            "cnt",
            "n",
            F.round(F.abs(F.col("cnt") - F.col("m")) / F.col("sd"), 6).alias("gval"),
            rk.alias("rk"),
        )
        .filter(F.col("rk") == 1)
    )
    return r.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.timestamp_micros(F.col("bidx") * F.lit(US_DAY)).alias("argmax_day"),
        F.col("cnt").alias("extreme_cnt"),
        F.col("gval").alias("g_stat"),
    )


_LPA_ROUND_SQL = """
    c{r} AS (SELECT ed.u AS n, l{p}.lbl AS lbl, count(*) AS c
           FROM ed JOIN l{p} ON ed.v = l{p}.n GROUP BY 1, 2),
    l{r} AS MATERIALIZED (SELECT n, lbl FROM (
            SELECT n, lbl,
                   row_number() OVER (PARTITION BY n ORDER BY c DESC, lbl)
                     AS rk
            FROM c{r}) WHERE rk = 1)"""


@register(
    "label_propagation_communities",
    """
    WITH li AS MATERIALIZED (
           SELECT DISTINCT l.l_orderkey AS ok, l.l_partkey AS pk
           FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
           WHERE p.p_size <= 25),
    e0 AS MATERIALIZED (SELECT DISTINCT a.pk AS u, b.pk AS v
           FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
    ed AS MATERIALIZED (SELECT u, v FROM e0
                        UNION ALL SELECT v AS u, u AS v FROM e0),
    l0 AS (SELECT DISTINCT u AS n, u AS lbl FROM ed),"""
    + _LPA_ROUND_SQL.format(r=1, p=0)
    + ","
    + _LPA_ROUND_SQL.format(r=2, p=1)
    + ","
    + _LPA_ROUND_SQL.format(r=3, p=2)
    + """
    SELECT CAST(lbl AS BIGINT) AS community,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(n) AS BIGINT) AS min_member
    FROM l3 GROUP BY lbl
    """,
)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (3 rounds,
    deterministic) on the co-purchase part graph (k_core_copurchase's
    edge base): each round every node adopts the most frequent label
    among its neighbors, ties to the SMALLEST label — the tie rule that
    makes sync LPA reproducible across engines and partitionings (async
    LPA is run-order dependent, useless under an exact oracle). Each
    round is one edges⋈labels equi-join + one (node, label) count + one
    argmax window over the count frame — all keyed exchanges on node id,
    no broadcast of anything row-scale; the edge list and each round's
    label frame are lineage-cut so the corpus scan happens once, not
    once per round (the k_core_fixed_point discipline). Fixed rounds
    keep the oracle expressible as an unrolled CTE cascade
    (k_core_copurchase precedent); the fixed-point variant would follow
    k_core_fixed_point's two-scalar-collects-per-round loop."""
    # r11 optimization (guide §2.4, measured): the edge base is the SAME
    # co-purchase graph the wedge family reads — reuse the checkpointed
    # copurchase_adjacency helper instead of an order-keyed lp⋈lp
    # self-join (two extra exchanges + a distinct over the pair blowup).
    # The both-direction adjacency IS the exploded neighbor frame, and
    # the initial labels frame is just the node column (every nbrs row
    # has >= 1 neighbor, exactly the old distinct-endpoint set).
    nbrs, _ = copurchase_adjacency(spark, sf_dir)
    ed = nbrs.select(F.col("node").alias("u"), F.explode("nb").alias("v"))
    labels = nbrs.select(F.col("node").alias("n"), F.col("node").alias("lbl"))
    pick = W.partitionBy("n").orderBy(F.col("c").desc(), "lbl")
    for _ in range(3):
        c = (
            ed.join(labels.withColumnRenamed("n", "v"), "v")
            .groupBy(F.col("u").alias("n"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            c.withColumn("rk", F.row_number().over(pick))
            .filter(F.col("rk") == 1)
            .select("n", "lbl")
            # r12 (measured): persist(), not a checkpoint — under AQE even
            # a lazy localCheckpoint executes every upstream shuffle stage
            # at construction (toRdd materializes AQE query stages), so the
            # old form serialized the three rounds into construction-time
            # jobs. Fixed rounds, no driver decision: a cache marker gives
            # the same per-round sharing with ZERO construction jobs, full
            # overlap inside the final aggregation's job, and lineage that
            # recomputes on executor loss (cluster-safe). Plan growth is
            # linear in rounds here (labels appears once per round), so
            # the k-core rendering-OOM concern does not apply.
            .persist()
        )
    return labels.groupBy(F.col("lbl").cast("long").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.min("n").cast("long").alias("min_member"),
    )


# ---------------------------------------------------------------------------
# Batch r9: bitmap-index analytics — bit-packed user sets (the roaring-
# bitmap technique as plain BIGINT words; exact, engine-portable)
# ---------------------------------------------------------------------------


@register(
    "bitmap_retention_daily",
    """
    WITH wd AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             user_id // 32 AS word,
             bit_or(1::BIGINT << CAST(user_id % 32 AS INTEGER)) AS bits
      FROM events GROUP BY 1, 2),
    dau AS (SELECT day, CAST(sum(bit_count(bits)) AS BIGINT) AS dau
            FROM wd GROUP BY day),
    ret AS (SELECT a.day,
                   CAST(sum(bit_count(a.bits & b.bits)) AS BIGINT) AS retained
            FROM wd a JOIN wd b
              ON a.word = b.word AND b.day = a.day + INTERVAL 1 DAY
            GROUP BY a.day)
    SELECT dau.day AS day, dau.dau,
           COALESCE(ret.retained, 0) AS retained_next,
           round(COALESCE(ret.retained, 0) / CAST(dau.dau AS DOUBLE), 6)
             AS retention_rate
    FROM dau LEFT JOIN ret ON dau.day = ret.day
    """,
)
def bitmap_retention_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-day retention via BITMAP-INDEX set intersection: each day's
    active-user set is bit-packed into 32-bit words (word = uid/32,
    bit = uid%32, one bit_or aggregation), DAU is Σ popcount, and
    retained users are Σ popcount(today & tomorrow) over a (word)-keyed
    equi-join of word frames — the roaring-bitmap technique in plain
    BIGINT columns. The set-intersection join touches ~n_users/32 rows
    per day instead of n_users (32x smaller shuffle than the
    distinct-users self-join the same answer usually costs), extends to
    any k-way funnel by AND-ing more bitmaps, and every operation is
    exact integer bit math — no sketch error, no float. The cohort
    sibling of cohort_retention_weekly (exact sets, day grain)."""
    e = _t(spark, sf_dir, "events")
    wd = e.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        (F.col("user_id") - F.col("user_id") % 32)
        .cast("long")
        .alias("_w32"),
    ).agg(
        F.expr("bit_or(shiftleft(1L, cast(user_id % 32 as int)))").alias("bits")
    ).select(F.col("day"), (F.col("_w32") / 32).cast("long").alias("word"), "bits")
    dau = wd.groupBy("day").agg(
        F.sum(F.bit_count("bits")).cast("long").alias("dau")
    )
    a, b = wd.alias("a"), wd.alias("b")
    ret = (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("b.day") == F.date_add(F.col("a.day"), 1)),
        )
        .groupBy(F.col("a.day").alias("day"))
        .agg(
            F.sum(F.bit_count(F.col("a.bits").bitwiseAND(F.col("b.bits"))))
            .cast("long")
            .alias("retained")
        )
    )
    return dau.join(ret, "day", "left").select(
        "day",
        "dau",
        F.coalesce(F.col("retained"), F.lit(0)).cast("long").alias("retained_next"),
        F.round(
            F.coalesce(F.col("retained"), F.lit(0)) / F.col("dau").cast("double"), 6
        ).alias("retention_rate"),
    )


@register(
    "bitmap_funnel_weekly",
    """
    WITH wd AS (
      SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
             user_id // 32 AS word,
             bit_or(CASE WHEN event_type = 'view'
                         THEN 1::BIGINT << CAST(user_id % 32 AS INTEGER)
                         ELSE 0 END) AS v_bits,
             bit_or(CASE WHEN event_type = 'click'
                         THEN 1::BIGINT << CAST(user_id % 32 AS INTEGER)
                         ELSE 0 END) AS c_bits,
             bit_or(CASE WHEN event_type = 'purchase'
                         THEN 1::BIGINT << CAST(user_id % 32 AS INTEGER)
                         ELSE 0 END) AS p_bits
      FROM events GROUP BY 1, 2)
    SELECT week,
           CAST(sum(bit_count(v_bits)) AS BIGINT) AS n_view,
           CAST(sum(bit_count(v_bits & c_bits)) AS BIGINT) AS n_view_click,
           CAST(sum(bit_count(v_bits & c_bits & p_bits)) AS BIGINT)
             AS n_full_funnel,
           round(sum(bit_count(v_bits & c_bits & p_bits))
                 / CAST(sum(bit_count(v_bits)) AS DOUBLE), 6)
             AS funnel_rate
    FROM wd GROUP BY week
    """,
)
def bitmap_funnel_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly view→click→purchase set-intersection funnel via THREE
    bitmaps built in ONE pass (conditional bit_or per stage into the
    same (week, word) frame): stage intersections are word-local ANDs +
    popcounts — no per-stage distinct, no self-joins, ONE keyed
    aggregation total (vs three distinct-aggs + two joins for the same
    numbers). Set semantics, not sequence semantics — the unordered
    'did all three ever happen this week' companion to
    funnel_signup_purchase's ordered within-window funnel."""
    e = _t(spark, sf_dir, "events")
    bit = "shiftleft(1L, cast(user_id % 32 as int))"

    def stage_bits(t):
        return F.expr(
            f"bit_or(CASE WHEN event_type = '{t}' THEN {bit} ELSE 0L END)"
        )

    wd = e.groupBy(
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
        (F.col("user_id") - F.col("user_id") % 32).cast("long").alias("word"),
    ).agg(
        stage_bits("view").alias("v_bits"),
        stage_bits("click").alias("c_bits"),
        stage_bits("purchase").alias("p_bits"),
    )
    vc = F.col("v_bits").bitwiseAND(F.col("c_bits"))
    vcp = vc.bitwiseAND(F.col("p_bits"))
    return wd.groupBy("week").agg(
        F.sum(F.bit_count("v_bits")).cast("long").alias("n_view"),
        F.sum(F.bit_count(vc)).cast("long").alias("n_view_click"),
        F.sum(F.bit_count(vcp)).cast("long").alias("n_full_funnel"),
        F.round(
            F.sum(F.bit_count(vcp)) / F.sum(F.bit_count("v_bits")).cast("double"),
            6,
        ).alias("funnel_rate"),
    )


@register(
    "ts_holt_winters_dow",
    f"""
    WITH RECURSIVE c AS (
      SELECT event_type,
             CAST(epoch_us(ts) // {US_DAY} AS BIGINT) AS bidx,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    r AS (SELECT event_type, bidx, cnt,
                 CAST(row_number() OVER (PARTITION BY event_type
                                         ORDER BY bidx) AS BIGINT) AS rn
          FROM c),
    h AS (
      SELECT event_type, bidx, cnt, rn,
             CAST(cnt AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS t,
             CAST([0, 0, 0, 0, 0, 0, 0] AS DOUBLE[]) AS s
      FROM r WHERE rn = 1
      UNION ALL
      SELECT r.event_type, r.bidx, r.cnt, r.rn,
             (0.5 * (r.cnt - h.s[CAST(r.bidx % 7 AS INT) + 1]) + 0.5 * (h.l + h.t)) AS l,
             0.25 * ((0.5 * (r.cnt - h.s[CAST(r.bidx % 7 AS INT) + 1]) + 0.5 * (h.l + h.t)) - h.l) + 0.75 * h.t AS t,
             list_transform(generate_series(0, 6),
               i -> CASE WHEN i = r.bidx % 7
                         THEN 0.5 * (r.cnt - (0.5 * (r.cnt - h.s[CAST(r.bidx % 7 AS INT) + 1]) + 0.5 * (h.l + h.t)))
                              + 0.5 * h.s[CAST(r.bidx % 7 AS INT) + 1]
                         ELSE h.s[CAST(i AS INT) + 1] END) AS s
      FROM r JOIN h ON r.event_type = h.event_type AND r.rn = h.rn + 1)
    SELECT event_type, make_timestamp(bidx * {US_DAY}) AS bucket_start, cnt,
           round(l, 6) AS level, round(t, 6) AS trend,
           round(l + t + s[CAST((bidx + 1) % 7 AS INT) + 1], 6)
             AS forecast_next
    FROM h
    """,
)
def ts_holt_winters_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE triple-exponential smoothing (level + trend +
    day-of-week seasonal, alpha=0.5 beta=0.25 gamma=0.5 — all dyadic, so
    every coefficient is an exact double on both engines) of daily event
    counts per type, with the one-step-ahead seasonal forecast —
    completing the smoothing family (ewma -> holt -> holt-winters). The
    seasonal slot is bidx mod 7 (calendar day-of-week), so missing days
    don't shift the season; seasonals ramp from zero (deterministic init,
    no first-season average pass). The recurrence folds JVM-side over
    each key's sorted bucket series (operators/timeseries.
    holt_winters_smooth — F.aggregate carrying a 7-slot seasonal array);
    the oracle is the equivalent recursive CTE with the seasonal state as
    a LIST column, running the identical left-to-right float sequence."""
    from windflow_spark.operators.timeseries import holt_winters_smooth

    return holt_winters_smooth(
        _t(spark, sf_dir, "events"),
        ["event_type"],
        "ts",
        alpha=0.5,
        beta=0.25,
        gamma=0.5,
        season=7,
        bucket_us=US_DAY,
    )


@register(
    "seasonal_strength_dow",
    """
    WITH d AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             round(sum(CAST(value AS DECIMAL(18,6))), 6)::DOUBLE AS daily
      FROM events GROUP BY 1, 2),
    s AS (SELECT event_type, day,
                 CAST(daily AS DECIMAL(18,6)) AS dd,
                 CAST(round(daily - round(avg(daily) OVER (PARTITION BY
                        event_type, dayofweek(day)), 6), 6)
                      AS DECIMAL(18,6)) AS rr
          FROM d),
    v AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 sum(dd) AS sd1,
                 sum(CAST(dd AS DECIMAL(19,6)) * CAST(dd AS DECIMAL(19,6)))
                   AS sd2,
                 sum(rr) AS sr1,
                 sum(CAST(rr AS DECIMAL(19,6)) * CAST(rr AS DECIMAL(19,6)))
                   AS sr2
          FROM s GROUP BY event_type)
    SELECT event_type, n,
           round(greatest(CAST(0 AS DOUBLE),
             1 - (n * CAST(sr2 AS DOUBLE) - CAST(sr1 AS DOUBLE) * CAST(sr1 AS DOUBLE))
                 / (n * CAST(sd2 AS DOUBLE) - CAST(sd1 AS DOUBLE) * CAST(sd1 AS DOUBLE))),
             6) AS seasonal_strength
    FROM v
    """,
)
def seasonal_strength_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal STRENGTH per event type: 1 − Var(residual)/
    Var(daily) over the ts_seasonal_dow decomposition (the STL strength
    statistic, clamped at 0) — 'how much of this series is just the
    weekly cycle', the one-number gate for whether deseasonalizing
    matters. Both variances come from exact DECIMAL Σx/Σx² of the
    6dp-pre-rounded components via the n·Σx²−(Σx)² identity — the
    quadratic-statistic discipline (herfindahl), no order-dependent
    float accumulation anywhere."""
    e = _t(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 6)
        .cast("double")
        .alias("daily")
    )
    wdow = W.partitionBy("event_type", F.dayofweek("day"))
    s = d.select(
        "event_type",
        F.col("daily").cast("decimal(18,6)").alias("dd"),
        F.round(
            F.col("daily") - F.round(F.avg("daily").over(wdow), 6), 6
        )
        .cast("decimal(18,6)")
        .alias("rr"),
    )
    v = s.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dd").alias("sd1"),
        F.sum(F.col("dd") * F.col("dd")).alias("sd2"),
        F.sum("rr").alias("sr1"),
        F.sum(F.col("rr") * F.col("rr")).alias("sr2"),
    )
    var_d = F.col("n") * F.col("sd2").cast("double") - F.col("sd1").cast(
        "double"
    ) * F.col("sd1").cast("double")
    var_r = F.col("n") * F.col("sr2").cast("double") - F.col("sr1").cast(
        "double"
    ) * F.col("sr1").cast("double")
    return v.select(
        "event_type",
        "n",
        F.round(F.greatest(F.lit(0.0), 1 - var_r / var_d), 6).alias(
            "seasonal_strength"
        ),
    )


@register(
    "abc_xyz_inventory",
    """
    WITH pq AS (
      SELECT l_partkey AS pk, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
      FROM lineitem GROUP BY l_partkey),
    t AS (SELECT CAST(sum(q) AS BIGINT) AS qt FROM pq),
    abc AS (SELECT pk, q,
                   CAST(sum(q) OVER (ORDER BY q DESC, pk) AS BIGINT) AS cq
            FROM pq),
    ac AS (SELECT abc.pk,
                  CASE WHEN abc.cq * 100 <= t.qt * 80 THEN 'A'
                       WHEN abc.cq * 100 <= t.qt * 95 THEN 'B'
                       ELSE 'C' END AS abc_class
           FROM abc CROSS JOIN t),
    m AS (SELECT l_partkey AS pk, CAST(date_trunc('month', l_shipdate) AS DATE) AS mon,
                 CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS mq
          FROM lineitem GROUP BY 1, 2),
    cov AS (SELECT pk, CAST(count(*) AS BIGINT) AS nm,
                   CAST(sum(mq) AS BIGINT) AS s1,
                   CAST(sum(mq * mq) AS BIGINT) AS s2
            FROM m GROUP BY pk),
    xy AS (SELECT pk,
                  CASE WHEN nm < 2 THEN 'Z'
                       WHEN sqrt((nm * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1)
                                 / (CAST(nm AS DOUBLE) * (nm - 1)))
                            / (CAST(s1 AS DOUBLE) / nm) < 0.5 THEN 'X'
                       WHEN sqrt((nm * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1)
                                 / (CAST(nm AS DOUBLE) * (nm - 1)))
                            / (CAST(s1 AS DOUBLE) / nm) < 1.0 THEN 'Y'
                       ELSE 'Z' END AS xyz_class
           FROM cov)
    SELECT ac.abc_class, xy.xyz_class, CAST(count(*) AS BIGINT) AS n_parts
    FROM ac JOIN xy ON ac.pk = xy.pk
    GROUP BY 1, 2
    """,
)
def abc_xyz_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/XYZ inventory classification — the supply-chain segmentation
    matrix: ABC by cumulative share of total quantity (A ≤ 80 %,
    B ≤ 95 %, C rest; the boundary test is cq·100 ≤ total·80, a pure
    INTEGER comparison, so no float share can flip a class), XYZ by
    demand regularity (coefficient of variation of monthly quantity from
    BIGINT Σ/Σ² — X < 0.5, Y < 1.0, Z erratic or single-month). The ABC
    cumulative is one part-grain global window (dim-sized; the
    gains_table caveat applies at 100 TB — range-partitioned two-pass
    rank), XYZ is two keyed aggs; output is the 3×3 class matrix."""
    li = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    pq = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(q).cast("long").alias("q")
    )
    t = pq.agg(F.sum("q").cast("long").alias("qt"))
    wcum = W.orderBy(F.col("q").desc(), "pk").rowsBetween(W.unboundedPreceding, 0)
    abc = pq.select("pk", "q", F.sum("q").over(wcum).cast("long").alias("cq"))
    ac = abc.crossJoin(F.broadcast(t)).select(
        "pk",
        F.when(F.col("cq") * 100 <= F.col("qt") * 80, "A")
        .when(F.col("cq") * 100 <= F.col("qt") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    m = li.groupBy(
        F.col("l_partkey").alias("pk"),
        F.date_trunc("month", F.col("l_shipdate")).cast("date").alias("mon"),
    ).agg(F.sum(q).cast("long").alias("mq"))
    cov = m.groupBy("pk").agg(
        F.count(F.lit(1)).cast("long").alias("nm"),
        F.sum("mq").cast("long").alias("s1"),
        F.sum(F.col("mq") * F.col("mq")).cast("long").alias("s2"),
    )
    cv = F.sqrt(
        (F.col("nm") * F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1"))
        / (F.col("nm").cast("double") * (F.col("nm") - 1))
    ) / (F.col("s1").cast("double") / F.col("nm"))
    xy = cov.select(
        "pk",
        F.when(F.col("nm") < 2, "Z")
        .when(cv < 0.5, "X")
        .when(cv < 1.0, "Y")
        .otherwise("Z")
        .alias("xyz_class"),
    )
    return (
        ac.join(xy, "pk")
        .groupBy("abc_class", "xyz_class")
        .agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
    )


@register(
    "hapax_legomena_by_source",
    r"""
    WITH tok AS (
      SELECT d.source, t.tok FROM documents d,
             unnest(list_filter(string_split(d.text, ' '), x -> x <> ''))
               AS t(tok)),
    df AS (SELECT tok, CAST(count(*) AS BIGINT) AS occ FROM tok GROUP BY tok),
    vocab AS (SELECT s.source,
                     CAST(count(DISTINCT s.tok) AS BIGINT) AS n_vocab,
                     CAST(count(DISTINCT CASE WHEN df.occ = 1 THEN s.tok END)
                          AS BIGINT) AS n_hapax,
                     CAST(count(*) AS BIGINT) AS n_tokens
              FROM tok s JOIN df ON s.tok = df.tok
              GROUP BY s.source)
    SELECT source, n_tokens, n_vocab, n_hapax,
           round(CAST(n_hapax AS DOUBLE) / n_vocab, 6) AS hapax_vocab_share,
           round(CAST(n_hapax AS DOUBLE) / n_tokens, 6) AS hapax_token_share
    FROM vocab
    """,
)
def hapax_legomena_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena (corpus-frequency-1 tokens) per source: vocabulary
    share and token share of words that appear EXACTLY ONCE in the whole
    corpus — the classic lexical-richness / OCR-noise diagnostic (a
    source whose hapax share spikes is injecting garbage tokens; one
    whose share collapses is templated/duplicated text). Zipf's law puts
    the healthy corpus near 50 % of vocabulary; pairs with
    heaps_law_vocab_growth (growth) and zipf_token_rank_slope (shape).
    One token explode, a corpus-level df agg, and a broadcast-sized
    (token → occ=1) join back — integer counts with two final
    divisions (the tokenizer_fertility discipline)."""
    from windflow_spark.functions.text import tokens

    docs = _t_wide(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens("text")).alias("tok"))
    df = tok.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("occ"))
    j = tok.join(df, "tok")
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.count_distinct(F.col("tok")).cast("long").alias("n_vocab"),
            F.count_distinct(
                F.when(F.col("occ") == 1, F.col("tok"))
            ).cast("long").alias("n_hapax"),
        )
        .select(
            "source",
            "n_tokens",
            "n_vocab",
            "n_hapax",
            F.round(F.col("n_hapax").cast("double") / F.col("n_vocab"), 6).alias(
                "hapax_vocab_share"
            ),
            F.round(F.col("n_hapax").cast("double") / F.col("n_tokens"), 6).alias(
                "hapax_token_share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Batch r9: M4 downsampling, rolling median, PERCENTILE_DISC, key audit,
# runs test
# ---------------------------------------------------------------------------


@register(
    "ts_m4_downsample",
    f"""
    SELECT event_type,
           make_timestamp((epoch_us(ts) // {US_DAY}) * {US_DAY}) AS pixel,
           CAST(count(*) AS BIGINT) AS n_raw,
           (min({{'t': epoch_us(ts), 'e': event_id, 'v': value}})).v AS first_val,
           (max({{'t': epoch_us(ts), 'e': event_id, 'v': value}})).v AS last_val,
           (min({{'v': value, 't': epoch_us(ts), 'e': event_id}})).v AS min_val,
           make_timestamp((min({{'v': value, 't': epoch_us(ts), 'e': event_id}})).t)
             AS min_ts,
           (max({{'v': value, 't': epoch_us(ts), 'e': event_id}})).v AS max_val,
           make_timestamp((max({{'v': value, 't': epoch_us(ts), 'e': event_id}})).t)
             AS max_ts
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2
    """,
)
def ts_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling (the dashboard-rendering operator: per time pixel
    keep first/last/min/max so the drawn line is pixel-identical to the
    raw series at any zoom) — one aggregation pass, argmin/argmax via
    lexicographic struct min/max with (ts, event_id) / (value, ts,
    event_id) orderings, fully deterministic under any partitioning
    (the resample_ohlc discipline; M4 additionally keeps the extremes'
    TIMESTAMPS). At 100 TB this is the 5000×-reduction step between the
    store and any plot; cost is scan + one keyed agg."""
    from windflow_spark.operators.timeutil import event_micros

    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    us = event_micros(e, "ts")
    te = F.struct(us.alias("t"), F.col("event_id").alias("e"), F.col("value").alias("v"))
    vt = F.struct(F.col("value").alias("v"), us.alias("t"), F.col("event_id").alias("e"))
    return e.groupBy(
        "event_type",
        F.timestamp_micros((us - us % F.lit(US_DAY))).alias("pixel"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_raw"),
        F.min(te)["v"].alias("first_val"),
        F.max(te)["v"].alias("last_val"),
        F.min(vt)["v"].alias("min_val"),
        F.timestamp_micros(F.min(vt)["t"]).alias("min_ts"),
        F.max(vt)["v"].alias("max_val"),
        F.timestamp_micros(F.max(vt)["t"]).alias("max_ts"),
    )


@register(
    "ts_rolling_median_7d",
    f"""
    WITH d AS (
      SELECT event_type, CAST(epoch_us(ts) // {US_DAY} AS BIGINT) AS didx,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2)
    SELECT event_type, make_timestamp(didx * {US_DAY}) AS day, cnt,
           CASE WHEN count(*) OVER w = 7 THEN
             round(quantile_cont(cnt, 0.5) OVER w, 6) END AS med_7d
    FROM d
    WINDOW w AS (PARTITION BY event_type ORDER BY didx
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def ts_rolling_median_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day EXACT rolling median of the daily count series —
    the robust companion to the rolling mean/zscore family (one outlier
    day cannot move it). Exact order statistics over a 7-row frame:
    cross-engine value-identical (integer inputs, midpoint interpolation
    halves are exact doubles), NULL during warmup. The window runs on
    the day-aggregated frame — at 100 TB the sort is over days per key,
    never events."""
    e = _t(spark, sf_dir, "events")
    from windflow_spark.operators.timeutil import event_micros

    us = event_micros(e, "ts")
    d = e.groupBy(
        "event_type",
        ((us - us % F.lit(US_DAY)) / F.lit(US_DAY)).cast("long").alias("didx"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    w = W.partitionBy("event_type").orderBy("didx").rowsBetween(-6, 0)
    return d.select(
        "event_type",
        F.timestamp_micros(F.col("didx") * F.lit(US_DAY)).alias("day"),
        "cnt",
        F.when(
            F.count(F.lit(1)).over(w) == 7,
            F.round(F.percentile(F.col("cnt"), F.lit(0.5)).over(w), 6),
        ).alias("med_7d"),
    )


@register(
    "percentile_disc_battery",
    """
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           round(quantile_disc(c_acctbal, 0.25), 2) AS p25_disc,
           round(quantile_disc(c_acctbal, 0.50), 2) AS p50_disc,
           round(quantile_disc(c_acctbal, 0.75), 2) AS p75_disc,
           round(quantile_cont(c_acctbal, 0.50), 6) AS p50_cont
    FROM customer GROUP BY c_mktsegment
    """,
)
def percentile_disc_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENTILE_DISC vs PERCENTILE_CONT surface: the discrete quantile
    returns an ACTUAL data value (smallest value whose cume_dist ≥ p —
    what auditors want when the answer must exist in the data), the
    continuous one interpolates. Spark's WITHIN GROUP percentile_disc ≡
    DuckDB quantile_disc at every p (both take the lower value at exact
    boundaries — verified); one keyed agg, no global sort."""
    c = _t(spark, sf_dir, "customer")

    def disc(p):
        return F.expr(f"percentile_disc({p}) WITHIN GROUP (ORDER BY c_acctbal)")

    return c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(disc(0.25), 2).alias("p25_disc"),
        F.round(disc(0.50), 2).alias("p50_disc"),
        F.round(disc(0.75), 2).alias("p75_disc"),
        F.round(F.percentile(F.col("c_acctbal"), F.lit(0.5)), 6).alias("p50_cont"),
    ).select("c_mktsegment", "n", "p25_disc", "p50_disc", "p75_disc", "p50_cont")


@register(
    "candidate_key_audit",
    """
    WITH k1 AS (SELECT 'o_orderkey' AS key_cols, CAST(count(*) AS BIGINT) AS n,
                       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
                       CAST(max(c) AS BIGINT) AS max_dup
                FROM orders, (SELECT o_orderkey AS kk, count(*) AS c
                              FROM orders GROUP BY 1) g
                WHERE orders.o_orderkey = g.kk),
    k2 AS (SELECT 'o_custkey', CAST(count(*) AS BIGINT),
                  CAST(count(DISTINCT o_custkey) AS BIGINT),
                  CAST((SELECT max(c) FROM (SELECT count(*) AS c FROM orders
                                            GROUP BY o_custkey)) AS BIGINT)
           FROM orders),
    k3 AS (SELECT 'o_custkey,o_orderdate', CAST(count(*) AS BIGINT),
                  CAST(count(DISTINCT (o_custkey, o_orderdate)) AS BIGINT),
                  CAST((SELECT max(c) FROM (SELECT count(*) AS c FROM orders
                                            GROUP BY o_custkey, o_orderdate))
                       AS BIGINT)
           FROM orders)
    SELECT key_cols, n, n_distinct, max_dup, n = n_distinct AS is_unique
    FROM (SELECT * FROM k1 UNION ALL SELECT * FROM k2 UNION ALL
          SELECT * FROM k3)
    """,
)
def candidate_key_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery audit: for each proposed key column set of
    the orders table, exact row count vs distinct count, the worst
    duplication factor, and the uniqueness verdict — the data-quality
    pass that validates primary-key assumptions before a MERGE/upsert
    pipeline trusts them (a dup key silently fans out every downstream
    join). One groupBy per candidate over the same scan; counts are
    exact BIGINTs."""
    o = _t(spark, sf_dir, "orders")

    def audit(label, cols):
        g = o.groupBy(*cols).agg(F.count(F.lit(1)).alias("c"))
        return g.agg(
            F.lit(label).alias("key_cols"),
            F.sum("c").cast("long").alias("n"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.max("c").cast("long").alias("max_dup"),
        )
    u = (
        audit("o_orderkey", ["o_orderkey"])
        .unionByName(audit("o_custkey", ["o_custkey"]))
        .unionByName(audit("o_custkey,o_orderdate", ["o_custkey", "o_orderdate"]))
    )
    return u.select(
        "key_cols",
        "n",
        "n_distinct",
        "max_dup",
        (F.col("n") == F.col("n_distinct")).alias("is_unique"),
    )


@register(
    "runs_test_daily",
    f"""
    WITH d AS (
      SELECT event_type, CAST(epoch_us(ts) // {US_DAY} AS BIGINT) AS didx,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    md AS (SELECT event_type, quantile_disc(cnt, 0.5) AS med
           FROM d GROUP BY event_type),
    s AS (SELECT d.event_type, d.didx,
                 CASE WHEN d.cnt > md.med THEN 1 ELSE 0 END AS sgn
          FROM d JOIN md ON d.event_type = md.event_type
          WHERE d.cnt <> md.med),
    r AS (SELECT event_type, sgn,
                 CASE WHEN lag(sgn) OVER (PARTITION BY event_type
                                          ORDER BY didx) IS DISTINCT FROM sgn
                      THEN 1 ELSE 0 END AS brk
          FROM s),
    g AS (SELECT event_type,
                 CAST(sum(sgn) AS BIGINT) AS n1,
                 CAST(count(*) - sum(sgn) AS BIGINT) AS n2,
                 CAST(sum(brk) AS BIGINT) AS runs
          FROM r GROUP BY event_type)
    SELECT event_type, n1, n2, runs,
           round((runs - (2.0 * n1 * n2 / (n1 + n2) + 1))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / ((n1 + n2) * (n1 + n2) * CAST(n1 + n2 - 1 AS DOUBLE))),
                 6) AS z_stat
    FROM g WHERE n1 > 0 AND n2 > 0
    """,
)
def runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test for randomness of the daily count series
    per type: days sign against the EXACT discrete median (ties dropped,
    the textbook treatment), runs counted as sign breaks in day order
    (the first row's NULL lag counts as a break, so runs = breaks), and
    the normal-approximation z from exact BIGINT n1/n2/R — trending or
    oscillating series show too few/too many runs where autocorrelation
    tests need a lag choice. Day-frame windows only."""
    e = _t(spark, sf_dir, "events")
    from windflow_spark.operators.timeutil import event_micros

    us = event_micros(e, "ts")
    d = e.groupBy(
        "event_type",
        ((us - us % F.lit(US_DAY)) / F.lit(US_DAY)).cast("long").alias("didx"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    md = d.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cnt)").alias("med")
    )
    s = (
        d.join(F.broadcast(md), "event_type")
        .filter(F.col("cnt") != F.col("med"))
        .select(
            "event_type",
            "didx",
            F.when(F.col("cnt") > F.col("med"), 1).otherwise(0).alias("sgn"),
        )
    )
    wo = W.partitionBy("event_type").orderBy("didx")
    r = s.select(
        "event_type",
        "sgn",
        F.when(
            ~F.lag("sgn").over(wo).eqNullSafe(F.col("sgn")), 1
        ).otherwise(0).alias("brk"),
    )
    g = r.groupBy("event_type").agg(
        F.sum("sgn").cast("long").alias("n1"),
        (F.count(F.lit(1)) - F.sum("sgn")).cast("long").alias("n2"),
        F.sum("brk").cast("long").alias("runs"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    mu = 2.0 * n1 * n2 / (n1 + n2) + 1
    sd = F.sqrt(
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1).cast("double"))
    )
    return g.filter((n1 > 0) & (n2 > 0)).select(
        "event_type",
        "n1",
        "n2",
        "runs",
        F.round((F.col("runs") - mu) / sd, 6).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# r10 additions: graph scoring (Adamic-Adar, HITS, local clustering),
# recsys ranking metrics (MRR, MAP), embedding second-order statistics,
# AR(1) forecasting, l-diversity, MoM contribution decomposition.
# ---------------------------------------------------------------------------


@register(
    "link_prediction_adamic_adar",
    """
    WITH li AS (SELECT DISTINCT l.l_orderkey AS ok, l.l_partkey AS pk
                FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
                WHERE p.p_size <= 25),
    e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
          FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
    adj AS (SELECT u AS node, v AS nbr FROM e
            UNION ALL
            SELECT v, u FROM e),
    deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY node),
    ctr AS (SELECT node AS z,
                   CAST(round(1000000.0 / ln(d)) AS BIGINT) AS w8
            FROM deg WHERE d BETWEEN 2 AND 60),
    w AS (SELECT a.nbr AS x, b.nbr AS y, ctr.w8
          FROM adj a JOIN adj b ON a.node = b.node AND a.nbr < b.nbr
          JOIN ctr ON a.node = ctr.z),
    cn AS (SELECT x, y, CAST(count(*) AS BIGINT) AS cn,
                  CAST(sum(w8) AS BIGINT) AS s8
           FROM w GROUP BY x, y),
    ne AS (SELECT cn.* FROM cn LEFT JOIN e ON cn.x = e.u AND cn.y = e.v
           WHERE e.u IS NULL)
    SELECT x, y, cn AS common_neighbors,
           round(s8 / 1000000.0, 6) AS aa_score
    FROM ne
    ORDER BY s8 DESC, x, y
    LIMIT 20
    """,
)
def link_prediction_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction on the co-purchase graph: for each
    NON-adjacent pair, AA(x,y) = Σ_{w ∈ N(x)∩N(y)} 1/ln(deg w) — common
    neighbors weighted inversely by how promiscuous they are (the classic
    refinement of `link_prediction_jaccard`'s raw count; reference analog:
    the same windowed-join machinery as wf/join archetypes feeding a
    scoring functor). Scale disciplines are the jaccard query's, verbatim:
    in-row basket → adjacency arrays, wedges expanded in-row ONLY through
    hub-capped centers (2 ≤ deg ≤ 60 — a degree-10⁶ hub emits 10¹²
    wedges and its 1/ln(10⁶) weight is noise), candidate volume
    Σ C(min(deg,60),2) = linear in nodes. Exactness: each center's weight
    is pre-scaled to an INTEGER round(1e6/ln d) — 59 possible d values,
    never near a rounding boundary — so per-pair scores are BIGINT sums
    (order-independent), ranked with (x, y) tie-breaks; the float AA
    score is derived from the integer AFTER ranking. Top-20 is a
    TakeOrdered, never a full sort."""
    nbrs, e = copurchase_adjacency(spark, sf_dir)
    ctr = nbrs.filter(
        (F.size("nb") >= 2) & (F.size("nb") <= _COPURCHASE_HUB_CAP)
    ).withColumn(
        "w8",
        F.round(F.lit(1_000_000.0) / F.log(F.size("nb").cast("double"))).cast("long"),
    )
    w = _wedge_pairs(ctr, carry=("w8",))
    cn = w.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("cn"),
        F.sum("w8").cast("long").alias("s8"),
    )
    # broadcast the |E|-row edge list so the anti-join filters the wedge
    # pairs map-side instead of sort-merge-shuffling the candidate frame
    # (the jaccard sibling's discipline; guide §3.1) — r12: guarded by
    # the catalog-size estimate (falls back to an equi-join at scale)
    ne = cn.join(
        maybe_broadcast(e, _catalog_est(sf_dir, _COPURCHASE_HUB_CAP, 16)),
        (cn.x == e.u) & (cn.y == e.v),
        "left_anti",
    )
    top = ne.orderBy(F.col("s8").desc(), "x", "y").limit(20)
    return top.select(
        "x",
        "y",
        F.col("cn").alias("common_neighbors"),
        F.round(F.col("s8") / 1_000_000.0, 6).alias("aa_score"),
    )


@register(
    "hits_hubs_authorities",
    """
    WITH e AS (SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
               FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    a1 AS (SELECT pk, CAST(count(*) AS BIGINT) AS s FROM e GROUP BY pk),
    h1 AS (SELECT e.ck, CAST(sum(a1.s) AS BIGINT) AS s
           FROM e JOIN a1 ON e.pk = a1.pk GROUP BY e.ck),
    a2 AS (SELECT e.pk, CAST(sum(h1.s) AS BIGINT) AS s
           FROM e JOIN h1 ON e.ck = h1.ck GROUP BY e.pk),
    am AS (SELECT max(s) AS m FROM a2),
    hm AS (SELECT max(s) AS m FROM h1),
    ta AS (SELECT 'authority' AS side, pk AS id, s,
                  round(s / (SELECT CAST(m AS DOUBLE) FROM am), 6) AS norm_score,
                  row_number() OVER (ORDER BY s DESC, pk) AS rk
           FROM a2),
    th AS (SELECT 'hub' AS side, ck AS id, s,
                  round(s / (SELECT CAST(m AS DOUBLE) FROM hm), 6) AS norm_score,
                  row_number() OVER (ORDER BY s DESC, ck) AS rk
           FROM h1)
    SELECT side, id, s AS score, norm_score, CAST(rk AS BIGINT) AS rk
    FROM (SELECT * FROM ta WHERE rk <= 10
          UNION ALL
          SELECT * FROM th WHERE rk <= 10)
    ORDER BY side, rk
    """,
)
def hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg) hubs & authorities on the bipartite
    customer→part purchase graph, THREE half-iterations unrolled
    (a₁ = Eᵀ1, h₁ = E a₁, a₂ = Eᵀ h₁) — the other classic iterative
    link-analysis scorer beside `pagerank_purchase_graph`. Normalization
    is deferred to the END (scores stay EXACT BIGINTs through every
    round — integer mutual reinforcement cannot drift across engines or
    partition orders; classical per-round L2 normalization would make
    every round a float fixpoint) and reported as score/max(score), an
    exact-int division both engines evaluate identically. Each half-step
    is ONE keyed equi-join + groupBy on the edge list — the Pregel shape
    of the k-core/label-propagation queries; per-side top-10 is a
    window-rank on the score frame. At 100 TB the BIGINT headroom bounds
    unrolling depth (scores grow ~(avg deg)² per full round); beyond ~3
    rounds switch the accumulator to DECIMAL(38,0) — documented, not
    needed at any tested scale."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("ck"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    a1 = e.groupBy("pk").agg(F.count(F.lit(1)).cast("long").alias("s"))
    h1 = (
        e.join(a1, "pk")
        .groupBy("ck")
        .agg(F.sum("s").cast("long").alias("s"))
    )
    a2 = (
        e.join(h1.select("ck", F.col("s").alias("hs")), "ck")
        .groupBy("pk")
        .agg(F.sum("hs").cast("long").alias("s"))
    )

    def _top(df, id_col, side):
        m = df.agg(F.max("s").alias("m"))
        # TakeOrdered (orderBy+limit) instead of a global row_number
        # window — no single-partition sort of the full score frame;
        # rank is derived AFTER the 10-row cut (window over 10 rows).
        rk = F.row_number().over(W.orderBy(F.col("s").desc(), F.col(id_col)))
        return (
            df.orderBy(F.col("s").desc(), F.col(id_col))
            .limit(10)
            .withColumn("rk", rk)
            .crossJoin(F.broadcast(m))  # one-row scalar attach
            .select(
                F.lit(side).alias("side"),
                F.col(id_col).alias("id"),
                F.col("s").alias("score"),
                F.round(F.col("s") / F.col("m").cast("double"), 6).alias(
                    "norm_score"
                ),
                F.col("rk").cast("long").alias("rk"),
            )
        )

    return (
        _top(a2, "pk", "authority")
        .unionByName(_top(h1, "ck", "hub"))
        .orderBy("side", "rk")
    )


@register(
    "clustering_coefficient_local",
    """
    WITH li AS (SELECT DISTINCT l.l_orderkey AS ok, l.l_partkey AS pk
                FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
                WHERE p.p_size <= 25),
    e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
          FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
    adj AS (SELECT u AS node, v AS nbr FROM e
            UNION ALL
            SELECT v, u FROM e),
    deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY node),
    ctr AS (SELECT node FROM deg WHERE d BETWEEN 2 AND 60),
    w AS (SELECT a.node AS v, a.nbr AS x, b.nbr AS y
          FROM adj a JOIN adj b ON a.node = b.node AND a.nbr < b.nbr
          JOIN ctr ON a.node = ctr.node),
    closed AS (SELECT w.v, CAST(count(*) AS BIGINT) AS tri
               FROM w JOIN e ON w.x = e.u AND w.y = e.v
               GROUP BY w.v),
    cc AS (SELECT ctr.node, deg.d,
                  coalesce(closed.tri, 0) AS tri,
                  round(2.0 * coalesce(closed.tri, 0)
                        / (deg.d * (deg.d - 1)), 6) AS cc
           FROM ctr JOIN deg ON ctr.node = deg.node
                    LEFT JOIN closed ON ctr.node = closed.v)
    SELECT node, d AS degree, CAST(tri AS BIGINT) AS triangles, cc
    FROM cc
    ORDER BY cc DESC, node
    LIMIT 20
    """,
)
def clustering_coefficient_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL clustering coefficient per node — C(v) = 2·tri(v)/(d(d−1)),
    the per-node sibling of the global `graph_triangle_count`: how close
    each part's co-purchase neighborhood is to a clique. Wedges (x,y)
    through v are expanded IN-ROW from v's sorted neighbor array for
    HUB-CAPPED nodes only (2 ≤ deg ≤ 60 — wedge volume Σ C(min(d,60),2)
    stays linear in nodes), then CLOSED wedges are counted by ONE keyed
    equi-join against the u<v edge list — never an adj⋈adj⋈adj triple
    self-join. cc is an exact-integer rational (2·tri/(d(d−1))), identical
    IEEE division on both engines, rounded 6dp before the rank with node
    as the total-order tie-break; top-20 is a TakeOrdered."""
    nbrs, e = copurchase_adjacency(spark, sf_dir)
    ctr = nbrs.filter((F.size("nb") >= 2) & (F.size("nb") <= _COPURCHASE_HUB_CAP))
    w = _wedge_pairs(ctr, carry=("node",)).withColumnRenamed("node", "cv")
    # broadcast the |E|-row edge list: the semi-join then closes wedges
    # map-side instead of shuffling the Σ C(d,2) wedge frame (guide §3.1)
    # — r12: guarded by the catalog-size estimate (equi-join at scale)
    closed = (
        w.join(
            maybe_broadcast(e, _catalog_est(sf_dir, _COPURCHASE_HUB_CAP, 16)),
            (w.x == e.u) & (w.y == e.v),
            "left_semi",
        )
        .groupBy("cv")
        .agg(F.count(F.lit(1)).cast("long").alias("tri"))
    )
    cc = (
        ctr.select(F.col("node"), F.size("nb").cast("long").alias("d"))
        .join(closed, F.col("node") == F.col("cv"), "left")
        .select(
            "node",
            F.col("d").alias("degree"),
            F.coalesce(F.col("tri"), F.lit(0)).cast("long").alias("triangles"),
            F.round(
                2.0
                * F.coalesce(F.col("tri"), F.lit(0))
                / (F.col("d") * (F.col("d") - 1)),
                6,
            ).alias("cc"),
        )
    )
    return cc.orderBy(F.col("cc").desc(), "node").limit(20)


@register(
    "recsys_mrr_at5",
    """
    WITH cut AS (SELECT (min(epoch_us(o_orderdate))
                         + max(epoch_us(o_orderdate))) // 2 AS c
                 FROM orders),
    tro AS (SELECT * FROM orders
            WHERE epoch_us(o_orderdate) <= (SELECT c FROM cut)),
    teo AS (SELECT * FROM orders
            WHERE epoch_us(o_orderdate) > (SELECT c FROM cut)),
    b0 AS (SELECT o.o_custkey AS ck, l.l_partkey AS pk,
                  max(o.o_orderdate) AS md
           FROM lineitem l JOIN tro o ON l.l_orderkey = o.o_orderkey
           GROUP BY 1, 2),
    b AS (SELECT ck, pk FROM (
            SELECT ck, pk, row_number() OVER (PARTITION BY ck
                     ORDER BY md DESC, pk) AS rn
            FROM b0) WHERE rn <= 10),
    cnt AS (SELECT pk, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY pk),
    pr AS (SELECT a.pk AS pa, b2.pk AS pb, CAST(count(*) AS BIGINT) AS cooc
           FROM b a JOIN b b2 ON a.ck = b2.ck AND a.pk < b2.pk
           GROUP BY 1, 2
           HAVING count(*) >= 2),
    sym AS (SELECT pa AS item_a, pb AS item_b, cooc FROM pr
            UNION ALL
            SELECT pb, pa, cooc FROM pr),
    sc AS (SELECT s.item_a, s.item_b,
                  round(s.cooc / sqrt(ca.n * cb.n), 6) AS cosine_sim
           FROM sym s JOIN cnt ca ON s.item_a = ca.pk
                      JOIN cnt cb ON s.item_b = cb.pk),
    model AS (SELECT item_a, item_b, cosine_sim FROM (
                SELECT *, row_number() OVER (PARTITION BY item_a
                          ORDER BY cosine_sim DESC, item_b) AS rk
                FROM sc) WHERE rk <= 3),
    cand AS (SELECT b.ck, m.item_b AS pk,
                    CAST(sum(CAST(round(m.cosine_sim * 1000000) AS BIGINT))
                         AS BIGINT) AS score
             FROM b JOIN model m ON b.pk = m.item_a
             WHERE NOT EXISTS (SELECT 1 FROM b b3
                               WHERE b3.ck = b.ck AND b3.pk = m.item_b)
             GROUP BY b.ck, m.item_b),
    top5 AS (SELECT ck, pk, pos FROM (
               SELECT ck, pk, row_number() OVER (PARTITION BY ck
                        ORDER BY score DESC, pk) AS pos
               FROM cand) WHERE pos <= 5),
    test AS (SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
             FROM lineitem l JOIN teo o ON l.l_orderkey = o.o_orderkey),
    eval_u AS (SELECT DISTINCT t.ck FROM test t
               WHERE t.ck IN (SELECT ck FROM b)),
    fh AS (SELECT e.ck, min(p.pos) AS first_hit
           FROM eval_u e
           LEFT JOIN top5 p ON p.ck = e.ck
           LEFT JOIN test t ON t.ck = p.ck AND t.pk = p.pk
           WHERE t.pk IS NOT NULL
           GROUP BY e.ck),
    rr AS (SELECT e.ck,
                  coalesce(1.0 / fh.first_hit, 0.0) AS rr
           FROM eval_u e LEFT JOIN fh ON e.ck = fh.ck)
    SELECT CAST(count(*) AS BIGINT) AS n_eval_users,
           CAST(count(*) FILTER (WHERE rr > 0) AS BIGINT) AS n_hit_users,
           round(avg(rr), 6) AS mrr
    FROM rr
    """,
)
def recsys_mrr_at5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@5 of the item-item recommender under the temporal holdout
    `_recsys_holdout` — mean reciprocal rank of the FIRST relevant
    recommendation, the metric that rewards putting one right answer on
    top (navigation/search framing) where NDCG rewards the whole list.
    The per-user top 5 is `_recsys_ranked` (cap-10 baskets, top-3
    neighbors, integer-scaled cosine ranking keys so near-ties cannot
    flip across engines); per user the reciprocal rank is an exact small
    rational (1/1..1/5 or 0), so the averaged MRR is deterministic to
    well below the 6dp rounding. Joins are all (ck, pk)-keyed — no new shuffle
    shapes beyond the audited recsys family."""
    base, b = _recsys_holdout(spark, sf_dir)
    top5 = _recsys_ranked(b, sf_dir, 5)
    test = base.filter(~F.col("_train")).select("ck", "pk").distinct()
    eval_u = test.select("ck").distinct().join(
        b.select("ck").distinct(), "ck", "left_semi"
    )
    fh = (
        top5.join(test, ["ck", "pk"], "left_semi")
        .groupBy("ck")
        .agg(F.min("pos").alias("first_hit"))
    )
    rr = eval_u.join(fh, "ck", "left").select(
        F.coalesce(F.lit(1.0) / F.col("first_hit"), F.lit(0.0)).alias("rr")
    )
    return rr.agg(
        F.count(F.lit(1)).cast("long").alias("n_eval_users"),
        F.count(F.when(F.col("rr") > 0, 1)).cast("long").alias("n_hit_users"),
        F.round(F.avg("rr"), 6).alias("mrr"),
    )


@register(
    "recsys_map_at3",
    """
    WITH cut AS (SELECT (min(epoch_us(o_orderdate))
                         + max(epoch_us(o_orderdate))) // 2 AS c
                 FROM orders),
    tro AS (SELECT * FROM orders
            WHERE epoch_us(o_orderdate) <= (SELECT c FROM cut)),
    teo AS (SELECT * FROM orders
            WHERE epoch_us(o_orderdate) > (SELECT c FROM cut)),
    b0 AS (SELECT o.o_custkey AS ck, l.l_partkey AS pk,
                  max(o.o_orderdate) AS md
           FROM lineitem l JOIN tro o ON l.l_orderkey = o.o_orderkey
           GROUP BY 1, 2),
    b AS (SELECT ck, pk FROM (
            SELECT ck, pk, row_number() OVER (PARTITION BY ck
                     ORDER BY md DESC, pk) AS rn
            FROM b0) WHERE rn <= 10),
    cnt AS (SELECT pk, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY pk),
    pr AS (SELECT a.pk AS pa, b2.pk AS pb, CAST(count(*) AS BIGINT) AS cooc
           FROM b a JOIN b b2 ON a.ck = b2.ck AND a.pk < b2.pk
           GROUP BY 1, 2
           HAVING count(*) >= 2),
    sym AS (SELECT pa AS item_a, pb AS item_b, cooc FROM pr
            UNION ALL
            SELECT pb, pa, cooc FROM pr),
    sc AS (SELECT s.item_a, s.item_b,
                  round(s.cooc / sqrt(ca.n * cb.n), 6) AS cosine_sim
           FROM sym s JOIN cnt ca ON s.item_a = ca.pk
                      JOIN cnt cb ON s.item_b = cb.pk),
    model AS (SELECT item_a, item_b, cosine_sim FROM (
                SELECT *, row_number() OVER (PARTITION BY item_a
                          ORDER BY cosine_sim DESC, item_b) AS rk
                FROM sc) WHERE rk <= 3),
    cand AS (SELECT b.ck, m.item_b AS pk,
                    CAST(sum(CAST(round(m.cosine_sim * 1000000) AS BIGINT))
                         AS BIGINT) AS score
             FROM b JOIN model m ON b.pk = m.item_a
             WHERE NOT EXISTS (SELECT 1 FROM b b3
                               WHERE b3.ck = b.ck AND b3.pk = m.item_b)
             GROUP BY b.ck, m.item_b),
    top3 AS (SELECT ck, pk, pos FROM (
               SELECT ck, pk, row_number() OVER (PARTITION BY ck
                        ORDER BY score DESC, pk) AS pos
               FROM cand) WHERE pos <= 3),
    test AS (SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
             FROM lineitem l JOIN teo o ON l.l_orderkey = o.o_orderkey),
    nrel AS (SELECT ck, CAST(count(*) AS BIGINT) AS n_rel
             FROM test GROUP BY ck),
    eval_u AS (SELECT DISTINCT t.ck FROM test t
               WHERE t.ck IN (SELECT ck FROM b)),
    hits AS (SELECT p.ck, p.pos FROM top3 p
             JOIN test t ON t.ck = p.ck AND t.pk = p.pk),
    prec AS (SELECT h.ck, h.pos,
                    CAST(count(*) AS BIGINT) AS hits_upto
             FROM hits h JOIN hits h2
               ON h.ck = h2.ck AND h2.pos <= h.pos
             GROUP BY h.ck, h.pos),
    apn AS (SELECT e.ck,
                   coalesce(sum(p.hits_upto * 1.0 / p.pos), 0.0) AS ap_num
            FROM eval_u e LEFT JOIN prec p ON e.ck = p.ck
            GROUP BY e.ck),
    ap AS (SELECT a.ck,
                  a.ap_num / (CASE WHEN n.n_rel >= 3 THEN 3
                                   ELSE n.n_rel END) AS ap
           FROM apn a JOIN nrel n ON a.ck = n.ck)
    SELECT CAST(count(*) AS BIGINT) AS n_eval_users,
           CAST(count(*) FILTER (WHERE ap > 0) AS BIGINT) AS n_hit_users,
           round(avg(ap), 6) AS map3
    FROM ap
    """,
)
def recsys_map_at3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP@3 of the item-item recommender — mean average precision,
    the third standard ranking metric beside hit-rate/NDCG/MRR: per user,
    AP = Σ_{hit at k} precision@k / min(3, n_rel), rewarding BOTH getting
    hits and packing them early. Per-user precision@k terms are exact
    small rationals (hits≤k / k with k ≤ 3); the hits-upto-k counts come
    from a per-user self-join over ≤3 hit positions (bounded in-row-scale
    work), so the averaged MAP is deterministic far below the 6dp round.
    Holdout and ranking are the shared `_recsys_holdout` and
    `_recsys_ranked` helpers — one model audit covers all four
    metrics."""
    base, b = _recsys_holdout(spark, sf_dir)
    top3 = _recsys_ranked(b, sf_dir, 3)
    test = base.filter(~F.col("_train")).select("ck", "pk").distinct()
    nrel = test.groupBy("ck").agg(F.count(F.lit(1)).cast("long").alias("n_rel"))
    eval_u = test.select("ck").distinct().join(
        b.select("ck").distinct(), "ck", "left_semi"
    )
    hits = top3.join(test, ["ck", "pk"], "left_semi").select("ck", "pos")
    # hits-upto-k per hit position: running count within the ≤3 per-user
    # hit positions via a window (the SQL self-join's keyed equivalent)
    wh = W.partitionBy("ck").orderBy("pos")
    prec = hits.withColumn("hits_upto", F.count(F.lit(1)).over(wh)).select(
        "ck", (F.col("hits_upto") * F.lit(1.0) / F.col("pos")).alias("p_at_k")
    )
    apn = (
        eval_u.join(prec, "ck", "left")
        .groupBy("ck")
        .agg(F.coalesce(F.sum("p_at_k"), F.lit(0.0)).alias("ap_num"))
    )
    ap = apn.join(nrel, "ck").select(
        (
            F.col("ap_num")
            / F.when(F.col("n_rel") >= 3, F.lit(3)).otherwise(F.col("n_rel"))
        ).alias("ap")
    )
    return ap.agg(
        F.count(F.lit(1)).cast("long").alias("n_eval_users"),
        F.count(F.when(F.col("ap") > 0, 1)).cast("long").alias("n_hit_users"),
        F.round(F.avg("ap"), 6).alias("map3"),
    )


def _quantized_embeddings(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Quantized embedding prelude shared by `embedding_covariance_topk`
    and `embedding_pca_power_iteration`. Returns ``(q, s)``: ``q`` = one
    row per vector holding its embedding quantized to 1e-6-grid BIGINTs
    (identical float32→double→round path on both engines), ``s`` = per
    dimension (dim, si = Σq, n) — exact BIGINT sums."""
    emb = _t_wide(spark, sf_dir, "embeddings")
    q = emb.select(
        F.transform(
            "embedding",
            lambda v: F.round(v.cast("double") * 1_000_000).cast("long"),
        ).alias("q")
    )
    d = q.select(F.posexplode("q").alias("dim", "qv"))
    s = d.groupBy("dim").agg(
        F.sum("qv").cast("long").alias("si"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return q, s


@register(
    "embedding_covariance_topk",
    """
    WITH x AS (
      SELECT vec_id, u.i - 1 AS dim,
             CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1000000)
                  AS BIGINT) AS q
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)),
    s AS (SELECT dim, CAST(sum(q) AS BIGINT) AS si,
                 CAST(count(*) AS BIGINT) AS n
          FROM x GROUP BY dim),
    p AS (SELECT a.dim AS di, b.dim AS dj,
                 CAST(sum(a.q * b.q) AS BIGINT) AS sqq
          FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.dim < b.dim
          GROUP BY 1, 2),
    cov AS (SELECT p.di, p.dj,
                   round((CAST(p.sqq AS DOUBLE)
                          - CAST(sa.si AS DOUBLE) * CAST(sb.si AS DOUBLE)
                            / sa.n)
                         / (sa.n - 1) / 1000000000000.0, 6) AS cov
            FROM p JOIN s sa ON p.di = sa.dim
                   JOIN s sb ON p.dj = sb.dim),
    r AS (SELECT di, dj, cov,
                 row_number() OVER (ORDER BY abs(cov) DESC, di, dj) AS rk
          FROM cov)
    SELECT CAST(di AS BIGINT) AS dim_i, CAST(dj AS BIGINT) AS dim_j, cov
    FROM r WHERE rk <= 20
    ORDER BY rk
    """,
)
def embedding_covariance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-correlated embedding dimension PAIRS by |covariance| —
    the second-order sibling of `embedding_dim_variance_topk` and the
    statistic behind PCA/whitening decisions (strongly covarying dims are
    redundant under truncation and PQ subspace splits). Pair products are
    generated IN-ROW (each vector emits its C(64,2) upper-triangle
    products from the quantized array — no d-way self-join of an exploded
    (row, dim) table, which at 100 TB would shuffle n·d rows into an n·d²
    join); the aggregate is one groupBy over dim pairs, dim-count-sized.
    Exactness: values are quantized to 1e-6-grid INTEGERS first
    (`_quantized_embeddings`: identical float32→double→round path on both
    engines — no decimal .5 boundary is reachable from a binary float), so Σq and Σq·q are exact BIGINT sums
    and the covariance is a fixed-order double expression over exact ints
    — bit-identical across engines and partition orders. At sf1 the
    largest Σq·q term is ~5e18, inside BIGINT; beyond that switch the
    pair accumulator to DECIMAL(38,0) (documented headroom bound).
    Ranking: |cov| after 6dp rounding, (di, dj) tie-break, TakeOrdered."""
    q, s = _quantized_embeddings(spark, sf_dir)
    pairs = q.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("q"),
                    lambda x, i: F.transform(
                        F.slice(F.col("q"), i + 2, F.size(F.col("q"))),
                        lambda y, k: F.struct(
                            i.alias("di"),
                            (i + k + 1).alias("dj"),
                            (x * y).alias("xy"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.di", "p.dj", "p.xy")
    p = pairs.groupBy("di", "dj").agg(F.sum("xy").cast("long").alias("sqq"))
    sa = s.select(F.col("dim").alias("di"), F.col("si").alias("sia"), "n")
    sb = s.select(F.col("dim").alias("dj"), F.col("si").alias("sib"))
    cov = (
        p.join(F.broadcast(sa), "di")
        .join(F.broadcast(sb), "dj")
        .select(
            "di",
            "dj",
            F.round(
                (
                    F.col("sqq").cast("double")
                    - F.col("sia").cast("double")
                    * F.col("sib").cast("double")
                    / F.col("n")
                )
                / (F.col("n") - 1)
                / 1_000_000_000_000.0,
                6,
            ).alias("cov"),
        )
    )
    rk = F.row_number().over(W.orderBy(F.abs(F.col("cov")).desc(), "di", "dj"))
    return (
        cov.withColumn("rk", rk)
        .filter(F.col("rk") <= 20)
        .orderBy("rk")
        .select(
            F.col("di").cast("long").alias("dim_i"),
            F.col("dj").cast("long").alias("dim_j"),
            "cov",
        )
    )


@register(
    "embedding_centroid_shift",
    """
    WITH x AS (
      SELECT vec_id, label, vec_id % 2 AS half, u.i - 1 AS dim,
             CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1000000)
                  AS BIGINT) AS q
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)),
    s AS (SELECT label, half, dim, CAST(sum(q) AS BIGINT) AS sq
          FROM x GROUP BY 1, 2, 3),
    c AS (SELECT label, half,
                 CAST(count(DISTINCT vec_id) AS BIGINT) AS cnt
          FROM x GROUP BY 1, 2),
    d AS (SELECT s0.label, s0.dim,
                 CAST(s0.sq AS DECIMAL(19,0)) * c1.cnt
                 - CAST(s1.sq AS DECIMAL(19,0)) * c0.cnt AS num
          FROM s s0 JOIN s s1 ON s0.label = s1.label AND s0.dim = s1.dim
                    AND s0.half = 0 AND s1.half = 1
          JOIN c c0 ON s0.label = c0.label AND c0.half = 0
          JOIN c c1 ON s0.label = c1.label AND c1.half = 1),
    agg AS (SELECT d.label,
                   CAST(sum(CAST(d.num AS DECIMAL(19,0))
                            * CAST(d.num AS DECIMAL(19,0)))
                        AS DECIMAL(38,0)) AS ss
            FROM d GROUP BY d.label)
    SELECT CAST(a.label AS BIGINT) AS label, c0.cnt AS n_half0,
           c1.cnt AS n_half1,
           round(sqrt(CAST(a.ss AS DOUBLE))
                 / (c0.cnt * c1.cnt) / 1000000.0, 6) AS centroid_shift
    FROM agg a JOIN c c0 ON a.label = c0.label AND c0.half = 0
               JOIN c c1 ON a.label = c1.label AND c1.half = 1
    ORDER BY a.label
    """,
)
def embedding_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid DRIFT between two deterministic halves of the
    corpus (vec_id parity — the split a re-crawl or re-embed batch would
    induce): L2 distance between the two halves' label centroids, the
    embedding-space counterpart of `embedding_source_drift`'s PSI and the
    monitor for 'did the new embed batch move the class geometry'. All
    arithmetic is EXACT until the final sqrt: values quantize to 1e-6
    integers, per-(label, half, dim) sums are BIGINT, the mean difference
    m₀−m₁ = (s₀·c₁ − s₁·c₀)/(c₀c₁) is kept as its integer NUMERATOR
    (common denominator per label), squared into DECIMAL(38,0) and summed
    exactly over the 64 dims; sqrt/÷ happen once on the exact total.
    In-row quantize → one (label, half, dim) groupBy (64·2·L rows) → one
    64-row-per-label fold: linear scans, dim-scale aggregates, no
    vector-vector joins."""
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(
            F.transform(
                "embedding",
                lambda v: F.round(v.cast("double") * 1_000_000).cast("long"),
            )
        ).alias("dim", "q"),
    )
    s = x.groupBy("label", "half", "dim").agg(F.sum("q").cast("long").alias("sq"))
    c = x.groupBy("label", "half").agg(
        F.countDistinct("vec_id").cast("long").alias("cnt")
    )
    s0 = s.filter(F.col("half") == 0).select("label", "dim", F.col("sq").alias("sq0"))
    s1 = s.filter(F.col("half") == 1).select("label", "dim", F.col("sq").alias("sq1"))
    c0 = c.filter(F.col("half") == 0).select("label", F.col("cnt").alias("c0"))
    c1 = c.filter(F.col("half") == 1).select("label", F.col("cnt").alias("c1"))
    d = (
        s0.join(s1, ["label", "dim"])
        .join(F.broadcast(c0), "label")
        .join(F.broadcast(c1), "label")
        .select(
            "label",
            (
                F.col("sq0").cast("decimal(19,0)") * F.col("c1")
                - F.col("sq1").cast("decimal(19,0)") * F.col("c0")
            ).alias("num"),
        )
    )
    agg = d.groupBy("label").agg(
        F.sum(
            F.col("num").cast("decimal(19,0)") * F.col("num").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("ss")
    )
    return (
        agg.join(F.broadcast(c0), "label")
        .join(F.broadcast(c1), "label")
        .select(
            F.col("label").cast("long").alias("label"),
            F.col("c0").alias("n_half0"),
            F.col("c1").alias("n_half1"),
            F.round(
                F.sqrt(F.col("ss").cast("double"))
                / (F.col("c0") * F.col("c1"))
                / 1_000_000.0,
                6,
            ).alias("centroid_shift"),
        )
        .orderBy("label")
    )


@register(
    "ts_ar1_daily_forecast",
    """
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d, CAST(count(*) AS BIGINT) AS c
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    lagged AS (
      SELECT c AS y, lag(c) OVER (ORDER BY d) AS x FROM daily),
    pairs AS (SELECT x, y FROM lagged WHERE x IS NOT NULL),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(x * x) AS BIGINT) AS sxx
          FROM pairs),
    lastc AS (SELECT c AS last_cnt FROM daily
              ORDER BY d DESC LIMIT 1),
    fit AS (SELECT n,
                   (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                   / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                   AS slope, sx, sy
            FROM s)
    SELECT f.n AS n_pairs, round(f.slope, 6) AS phi,
           round((f.sy - f.slope * f.sx) / f.n, 6) AS intercept,
           l.last_cnt,
           round((f.sy - f.slope * f.sx) / f.n
                 + f.slope * l.last_cnt, 6) AS forecast_next
    FROM fit f, lastc l
    """,
)
def ts_ar1_daily_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(1) fit + one-step forecast of the daily purchase count — the
    autoregressive companion to `ts_holt_linear`/`ts_holt_winters_dow`:
    y_t = c + φ·y_{t−1}, φ and c by least squares on consecutive-day
    pairs, forecast = c + φ·y_last. The day-count series is tiny after
    the first scan (one groupBy over the corpus → ~150 rows), so the lag
    window and the closed-form moments run on a frame that fits anywhere;
    moments Σx, Σy, Σxy, Σxx are EXACT BIGINTs (daily counts ≤ ~1e6 at
    100 TB keep x·y ≤ 1e12, × 10⁴ days ≪ 2⁶³), so φ is one
    exact-int-fed division and the forecast a fixed-order double
    expression — engine-identical before the 6dp round."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    lagged = daily.select(
        F.col("c").alias("y"), F.lag("c").over(W.orderBy("d")).alias("x")
    ).filter(F.col("x").isNotNull())
    s = lagged.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    lastc = daily.orderBy(F.col("d").desc()).limit(1).select(
        F.col("c").alias("last_cnt")
    )
    slope = (
        F.col("n").cast("double") * F.col("sxy")
        - F.col("sx").cast("double") * F.col("sy")
    ) / (
        F.col("n").cast("double") * F.col("sxx")
        - F.col("sx").cast("double") * F.col("sx")
    )
    fit = s.select("n", slope.alias("slope"), "sx", "sy")
    return fit.crossJoin(F.broadcast(lastc)).select(
        F.col("n").alias("n_pairs"),
        F.round(F.col("slope"), 6).alias("phi"),
        F.round((F.col("sy") - F.col("slope") * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
        "last_cnt",
        F.round(
            (F.col("sy") - F.col("slope") * F.col("sx")) / F.col("n")
            + F.col("slope") * F.col("last_cnt"),
            6,
        ).alias("forecast_next"),
    )


@register(
    "l_diversity_audit",
    """
    WITH qi AS (
      SELECT o.o_orderpriority AS pri, o.o_orderstatus AS status,
             date_trunc('month', o.o_orderdate) AS mon,
             c.c_mktsegment AS seg
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    g AS (SELECT pri, status, mon,
                 CAST(count(DISTINCT seg) AS BIGINT) AS l,
                 CAST(count(*) AS BIGINT) AS n_rows
          FROM qi GROUP BY 1, 2, 3),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_groups FROM g)
    SELECT g.l,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(g.n_rows) AS BIGINT) AS n_rows,
           CAST(min(g.n_rows) AS BIGINT) AS min_group_rows,
           round(count(*) * 1.0 / t.n_groups, 6) AS pct_groups
    FROM g, tot t
    GROUP BY g.l, t.n_groups
    ORDER BY g.l
    """,
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the sensitive-attribute companion to
    `k_anonymity_audit`: for quasi-identifier groups (priority, status,
    order month), how many DISTINCT values of the sensitive attribute
    (customer market segment) each group contains. k-anonymity alone
    permits a group of 50 rows that all share one segment — a homogeneity
    attack; l-diversity counts that group as l=1. Output is the l
    histogram (groups, rows, min group size, share) — the release gate is
    'no group below l'. One join + two keyed groupBys, all-integer, the
    one-row total attached by scalar broadcast."""
    o = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    qi = o.join(cu, o.o_custkey == cu.c_custkey).select(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderstatus").alias("status"),
        F.date_trunc("month", "o_orderdate").alias("mon"),
        F.col("c_mktsegment").alias("seg"),
    )
    g = qi.groupBy("pri", "status", "mon").agg(
        F.countDistinct("seg").cast("long").alias("l"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    tot = g.agg(F.count(F.lit(1)).cast("long").alias("n_groups_t"))
    return (
        g.groupBy("l")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.min("n_rows").cast("long").alias("min_group_rows"),
        )
        .crossJoin(F.broadcast(tot))  # one-row scalar attach
        .select(
            "l",
            "n_groups",
            "n_rows",
            "min_group_rows",
            F.round(F.col("n_groups") * 1.0 / F.col("n_groups_t"), 6).alias(
                "pct_groups"
            ),
        )
        .orderBy("l")
    )


@register(
    "mom_contribution_by_segment",
    """
    WITH m AS (
      SELECT c.c_mktsegment AS seg,
             date_trunc('month', o.o_orderdate) AS mon,
             sum(CAST(o.o_totalprice AS DECIMAL(18,6))) AS rev
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2),
    d AS (SELECT a.seg, a.mon, a.rev, b.rev AS prev_rev,
                 a.rev - b.rev AS diff
          FROM m a JOIN m b ON a.seg = b.seg
               AND b.mon = a.mon - INTERVAL 1 MONTH),
    t AS (SELECT mon, sum(diff) AS total_diff
          FROM d GROUP BY mon)
    SELECT d.seg, d.mon,
           round(CAST(d.rev AS DOUBLE), 2) AS rev,
           round(CAST(d.diff AS DOUBLE), 2) AS mom_change,
           round(CAST(d.diff AS DOUBLE)
                 / nullif(CAST(t.total_diff AS DOUBLE), 0.0) * 100, 4)
             AS pct_of_total_change
    FROM d JOIN t ON d.mon = t.mon
    ORDER BY d.mon, d.seg
    """,
)
def mom_contribution_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue BRIDGE by market segment — the waterfall
    decomposition every BI layer asks of an OLAP engine: each month's
    total revenue change attributed to segments, with each segment's
    share of the swing. The contribution identity (Σ segment diffs =
    month diff) holds EXACTLY because revenue accumulates as
    DECIMAL(18,6) end-to-end (the _dsum discipline) and only the final
    reported columns round through DOUBLE; consecutive months pair by
    CALENDAR join (mon − 1 month), not row-lag, so a segment skipping a
    month never pairs non-adjacent months. Two keyed groupBys + one
    self-join on (seg, mon) — month-cardinality frames after the first
    scan."""
    o = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    m = (
        o.join(cu, o.o_custkey == cu.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.date_trunc("month", "o_orderdate").alias("mon"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("rev"))
    )
    prev = m.select(
        F.col("seg").alias("seg_p"),
        F.to_timestamp(F.add_months(F.col("mon"), 1)).alias("mon_p"),
        F.col("rev").alias("prev_rev"),
    )
    d = m.join(
        prev,
        (F.col("seg") == F.col("seg_p")) & (F.col("mon") == F.col("mon_p")),
    ).select(
        "seg",
        "mon",
        "rev",
        (F.col("rev") - F.col("prev_rev")).alias("diff"),
    )
    t = d.groupBy(F.col("mon").alias("mon_t")).agg(
        F.sum("diff").alias("total_diff")
    )
    return (
        d.join(t, d.mon == t.mon_t)
        .select(
            "seg",
            "mon",
            F.round(F.col("rev").cast("double"), 2).alias("rev"),
            F.round(F.col("diff").cast("double"), 2).alias("mom_change"),
            F.round(
                F.col("diff").cast("double")
                / F.nullif(F.col("total_diff").cast("double"), F.lit(0.0))
                * 100,
                4,
            ).alias("pct_of_total_change"),
        )
        .orderBy("mon", "seg")
    )


_RAKE_STOP = (
    "the a an and or of to in is on for with as at by it be this that are was"
).split()


@register(
    "text_rake_keywords",
    f"""
    WITH ph0 AS (
      SELECT doc_id, u.i AS sid,
             trim(sp[u.i]) AS phrase
      FROM (SELECT doc_id,
                   string_split(
                     array_to_string(
                       list_transform(
                         string_split_regex(
                           trim(regexp_replace(lower(text), '[^a-z]+', ' ',
                                               'g')),
                           ' '),
                         w -> CASE WHEN w IN
                                ({",".join("'" + s + "'" for s in _RAKE_STOP)})
                              THEN '|' ELSE w END),
                       ' '),
                     '|') AS sp
            FROM documents) d,
           unnest(generate_series(1, len(d.sp))) AS u(i)
      WHERE trim(sp[u.i]) <> ''),
    ph AS (SELECT doc_id, sid, phrase,
                  CAST(len(string_split(phrase, ' ')) AS BIGINT) AS plen
           FROM ph0
           WHERE len(string_split(phrase, ' ')) <= 4),
    pw AS (SELECT ph.doc_id, ph.sid, ph.phrase, ph.plen, u.w
           FROM ph, unnest(string_split(ph.phrase, ' ')) AS u(w)),
    ws AS (SELECT w,
                  CAST(round(1000000.0 * sum(plen) / count(*)) AS BIGINT)
                    AS w8
           FROM pw GROUP BY w),
    psc AS (SELECT pw.doc_id, pw.sid, pw.phrase,
                   CAST(sum(ws.w8) AS BIGINT) AS s8
            FROM pw JOIN ws ON pw.w = ws.w
            GROUP BY pw.doc_id, pw.sid, pw.phrase),
    agg AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
                   max(s8) AS s8
            FROM psc GROUP BY phrase),
    r AS (SELECT phrase, n_occurrences,
                 round(s8 / 1000000.0, 6) AS rake_score,
                 row_number() OVER (ORDER BY s8 DESC, phrase) AS rk
          FROM agg)
    SELECT phrase, n_occurrences, rake_score FROM r
    WHERE rk <= 20 ORDER BY rk
    """,
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction over the documents corpus — candidate
    phrases are maximal stopword-free token runs (capped at 4 words);
    each word scores degree/freq (degree = Σ lengths of phrases
    containing it — co-occurrence credit; freq = occurrences), each
    phrase the SUM of its words' scores; the corpus keyword list is the
    top-20 distinct phrases by best score. Phrase segmentation is
    ENTIRELY IN-ROW: tokenize, map stopwords to a sentinel, re-join and
    split — one scan, no per-token window or shuffle (the first cut used
    a running stopword-count window over an exploded token frame and
    spent 15 s at sf0.01 re-tokenizing per plan branch; this shape is
    ~10× cheaper and scales as a linear scan + phrase-frame joins).
    Ranking is on exact integers: word scores pre-scaled to
    round(1e6·deg/freq) BIGINTs so phrase sums are order-independent
    (the adamic-adar discipline); the float score is derived AFTER
    ranking and the top-20 is a TakeOrdered. Spark-side tokenizing rides
    `_t_wide` (CPU-bound per-row regex)."""
    d = _t_wide(spark, sf_dir, "documents")
    stops = F.array(*[F.lit(w) for w in _RAKE_STOP])
    toks = F.filter(
        F.split(F.trim(F.regexp_replace(F.lower("text"), "[^a-z]+", " ")), " "),
        lambda w: w != "",
    )
    marked = F.transform(
        toks, lambda w: F.when(F.array_contains(stops, w), F.lit("|")).otherwise(w)
    )
    phrases = F.filter(
        F.transform(
            F.split(F.array_join(marked, " "), "\\|"), lambda p: F.trim(p)
        ),
        lambda p: p != "",
    )
    ph = (
        d.select("doc_id", F.posexplode(phrases).alias("sid", "phrase"))
        .withColumn("wlist", F.split("phrase", " "))
        .withColumn("plen", F.size("wlist").cast("long"))
        .filter(F.col("plen") <= 4)
    )
    pw = ph.select("doc_id", "sid", "phrase", "plen", F.explode("wlist").alias("w"))
    ws = pw.groupBy("w").agg(
        F.round(F.lit(1_000_000.0) * F.sum("plen") / F.count(F.lit(1)))
        .cast("long")
        .alias("w8")
    )
    psc = (
        pw.join(ws, "w")
        .groupBy("doc_id", "sid", "phrase")
        .agg(F.sum("w8").cast("long").alias("s8"))
    )
    agg = psc.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.max("s8").alias("s8"),
    )
    # TakeOrdered top-20, never a global row_number over the full phrase
    # frame (rank order preserved by the final orderBy on the 20 rows)
    return (
        agg.orderBy(F.col("s8").desc(), "phrase")
        .limit(20)
        .orderBy(F.col("s8").desc(), "phrase")
        .select(
            "phrase",
            "n_occurrences",
            F.round(F.col("s8") / 1_000_000.0, 6).alias("rake_score"),
        )
    )


@register(
    "graph_landmark_distances",
    """
    WITH li AS (SELECT DISTINCT l.l_orderkey AS ok, l.l_partkey AS pk
                FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
                WHERE p.p_size <= 25),
    e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
          FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
    adj AS (SELECT u AS node, v AS nbr FROM e
            UNION ALL SELECT v, u FROM e),
    lm AS (SELECT node AS lmk FROM (
             SELECT DISTINCT node FROM adj ORDER BY node LIMIT 3)),
    d0 AS (SELECT lmk, lmk AS node, 0 AS dist FROM lm),
    f1 AS (SELECT d0.lmk, adj.nbr AS node FROM d0
           JOIN adj ON d0.node = adj.node),
    d1 AS (SELECT f1.lmk, f1.node, 1 AS dist FROM f1
           WHERE NOT EXISTS (SELECT 1 FROM d0
                             WHERE d0.lmk = f1.lmk AND d0.node = f1.node)
           GROUP BY f1.lmk, f1.node),
    u1 AS (SELECT * FROM d0 UNION ALL SELECT * FROM d1),
    f2 AS (SELECT d1.lmk, adj.nbr AS node FROM d1
           JOIN adj ON d1.node = adj.node),
    d2 AS (SELECT f2.lmk, f2.node, 2 AS dist FROM f2
           WHERE NOT EXISTS (SELECT 1 FROM u1
                             WHERE u1.lmk = f2.lmk AND u1.node = f2.node)
           GROUP BY f2.lmk, f2.node),
    u2 AS (SELECT * FROM u1 UNION ALL SELECT * FROM d2),
    f3 AS (SELECT d2.lmk, adj.nbr AS node FROM d2
           JOIN adj ON d2.node = adj.node),
    d3 AS (SELECT f3.lmk, f3.node, 3 AS dist FROM f3
           WHERE NOT EXISTS (SELECT 1 FROM u2
                             WHERE u2.lmk = f3.lmk AND u2.node = f3.node)
           GROUP BY f3.lmk, f3.node),
    u3 AS (SELECT * FROM u2 UNION ALL SELECT * FROM d3)
    SELECT lmk AS landmark, CAST(dist AS BIGINT) AS dist,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM u3 GROUP BY lmk, dist
    ORDER BY lmk, dist
    """,
)
def graph_landmark_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark-BFS distance profile on the co-purchase graph: exact
    hop distances ≤ 3 from the 3 smallest-id landmark nodes — the
    distance-oracle primitive behind graph embeddings and
    approximate-shortest-path services (landmark labeling), and the
    frontier-expansion sibling of `recursive_trade_reachability`. Each
    BFS round expands ONLY the previous FRONTIER (not the full visited
    set) through one keyed edges-join, anti-joins the visited set, and
    the landmark count is a constant 3 — per-round work is O(frontier
    edges), the textbook distributed-BFS bound; rounds are fixed at 3 so
    the oracle stays an unrolled CTE (the label-propagation discipline).
    Output: nodes-at-distance histogram per landmark, all-integer."""
    nbrs, _ = copurchase_adjacency(spark, sf_dir)
    # deduplicated both-direction adjacency pairs, in-row from the
    # neighbor arrays (the collect_set already dedup'd them)
    adj = nbrs.select("node", F.explode("nb").alias("nbr"))
    lm = (
        nbrs.select("node")
        .orderBy("node")
        .limit(3)
        .select(F.col("node").alias("lmk"))
    )
    visited = lm.select("lmk", F.col("lmk").alias("node"), F.lit(0).alias("dist"))
    frontier = visited
    for r in (1, 2, 3):
        expand = (
            frontier.join(adj, frontier.node == adj.node)
            .select("lmk", F.col("nbr").alias("node"))
            .distinct()
        )
        fresh = expand.join(visited, ["lmk", "node"], "left_anti").select(
            "lmk", "node", F.lit(r).alias("dist")
        )
        # r12 (measured): share each round via persist(), NOT a checkpoint.
        # Under AQE even a LAZY localCheckpoint executes every upstream
        # shuffle stage at plan-construction time (Dataset.checkpoint calls
        # queryExecution.toRdd, which materializes AQE query stages), so the
        # old per-round checkpoints paid 3 serialized build jobs before the
        # real action started. No driver decision happens between rounds
        # (fixed 3, no convergence collect), so a cache marker is enough:
        # construction submits ZERO jobs, all rounds overlap inside the one
        # final-aggregation job, and both consumers of each round (visited
        # union + next frontier) read the same cached blocks. Plan growth is
        # bounded (3 rounds over a checkpointed adjacency), and unlike
        # executor-local checkpoint blocks the cache is recomputable from
        # lineage on executor loss — the cluster-safe choice (VERDICT r11
        # "what's wrong" #3).
        fresh = fresh.persist()
        visited = visited.unionByName(fresh)
        frontier = fresh
    return (
        visited.groupBy(F.col("lmk").alias("landmark"), "dist")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .select("landmark", F.col("dist").cast("long").alias("dist"), "n_nodes")
        .orderBy("landmark", "dist")
    )


@register(
    "dedup_semantic_clusters",
    f"""
    WITH {_KMEANS_TRAIN_CTES},
    {_km_assign_cte("af", "c2")},
    sc AS (SELECT af.vec_id, af.bkt, af.v,
                  round(list_cosine_similarity(af.v, c2.cv), 6) AS ccos
           FROM af JOIN c2 ON af.bkt = c2.bkt),
    p AS (SELECT a.bkt, a.vec_id AS id_a, b.vec_id AS id_b,
                 a.ccos AS ca, b.ccos AS cb
          FROM sc a JOIN sc b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
          WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.30),
    vic AS (SELECT bkt,
                   CASE WHEN (ca > cb) OR (ca = cb AND id_a > id_b)
                        THEN id_a ELSE id_b END AS vid
            FROM p),
    vd AS (SELECT bkt, vid FROM vic GROUP BY bkt, vid),
    m AS (SELECT bkt, CAST(count(*) AS BIGINT) AS n_members
          FROM af GROUP BY bkt),
    pc AS (SELECT bkt, CAST(count(*) AS BIGINT) AS n_pairs FROM p GROUP BY bkt),
    rc AS (SELECT bkt, CAST(count(*) AS BIGINT) AS n_removed
           FROM vd GROUP BY bkt)
    SELECT m.bkt AS cluster_id, m.n_members,
           CAST(coalesce(pc.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(coalesce(rc.n_removed, 0) AS BIGINT) AS n_removed,
           round(coalesce(rc.n_removed, 0) * 1.0 / m.n_members, 6)
             AS frac_removed
    FROM m LEFT JOIN pc ON m.bkt = pc.bkt
           LEFT JOIN rc ON m.bkt = rc.bkt
    ORDER BY cluster_id
    """,
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style SEMANTIC deduplication: cluster the corpus with the
    trained k-means coarse quantizer (the sim_topk_ivf_kmeans codebook —
    2 deterministic Lloyd iterations), generate candidate pairs ONLY
    within clusters, verify with exact cosine (threshold 0.30 — this
    corpus' in-cluster cosines top out ~0.47; the candidate-join SHAPE is
    what scales), and for each near-dup pair mark the member MORE similar
    to its centroid as removable (keep the lower-centroid-similarity
    representative — SemDeDup's diversity-preserving keep rule; ties by
    greater vec_id). Reported per cluster: members, dup pairs, removed,
    removed fraction. This is the pipeline that turned web-scale corpora
    ~10-50% smaller with no quality loss; every stage here reuses an
    audited primitive — codebook training (k×dim driver codebook only),
    broadcast O(N·k) assignment, per-cluster BLAS pair scoring
    (applyInPandas, Σ cluster² bounded work; at 100 TB cluster count
    scales ∝ n so cluster size — and the pairwise bound — stays fixed,
    the paper's own regime)."""
    from windflow_spark.functions.similarity import (
        _assign_nearest_list,
        embedding_cosine_neardup,
        train_codebook,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cb = train_codebook(emb, cache_key=sf_dir, n_lists=8, iters=2)
    assigned = _assign_nearest_list(emb, cb, "vec_id", keep_score=True)
    pairs = embedding_cosine_neardup(
        assigned.select(
            "vec_id", F.col("_bkt").alias("bkt"), F.col("_v").alias("embedding")
        ),
        threshold=0.30,
        bucket_col="bkt",
    )
    ccos = assigned.select("vec_id", F.col("_bkt").alias("bkt"), F.col("_cos"))
    p = (
        pairs.join(
            ccos.select(
                F.col("vec_id").alias("id_a"),
                F.col("bkt"),
                F.col("_cos").alias("ca"),
            ),
            "id_a",
        )
        .join(
            ccos.select(
                F.col("vec_id").alias("id_b"), F.col("_cos").alias("cb")
            ),
            "id_b",
        )
    )
    vic = p.select(
        "bkt",
        F.when(
            (F.col("ca") > F.col("cb"))
            | ((F.col("ca") == F.col("cb")) & (F.col("id_a") > F.col("id_b"))),
            F.col("id_a"),
        )
        .otherwise(F.col("id_b"))
        .alias("vid"),
    ).distinct()
    m = ccos.groupBy("bkt").agg(F.count(F.lit(1)).cast("long").alias("n_members"))
    pc = p.groupBy("bkt").agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    rc = vic.groupBy("bkt").agg(F.count(F.lit(1)).cast("long").alias("n_removed"))
    return (
        m.join(pc, "bkt", "left")
        .join(rc, "bkt", "left")
        .select(
            F.col("bkt").alias("cluster_id"),
            "n_members",
            F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce(F.col("n_removed"), F.lit(0))
            .cast("long")
            .alias("n_removed"),
            F.round(
                F.coalesce(F.col("n_removed"), F.lit(0)) * 1.0 / F.col("n_members"),
                6,
            ).alias("frac_removed"),
        )
        .orderBy("cluster_id")
    )


@register(
    "ab_test_sequential_sprt",
    """
    WITH obs AS (
      SELECT user_id % 2 AS arm, value >= 50.0 AS succ, ts, event_id
      FROM events WHERE event_type = 'purchase'),
    walk AS (
      SELECT arm,
             CAST(row_number() OVER w AS BIGINT) AS n,
             CAST(sum(CASE WHEN succ THEN 1 ELSE 0 END) OVER w AS BIGINT) AS s
      FROM obs
      WINDOW w AS (PARTITION BY arm ORDER BY ts, event_id)),
    llr AS (
      SELECT arm, n, s,
             round(s * ln(0.5 / 0.4)
                   + (n - s) * ln(0.5 / 0.6), 6) AS llr
      FROM walk),
    crossed AS (
      SELECT arm, min(n) AS first_cross_n
      FROM llr WHERE llr >= 2.944439 OR llr <= -2.944439
      GROUP BY arm),
    final AS (
      SELECT arm, n AS n_obs, s AS n_succ, llr AS final_llr
      FROM (SELECT *, row_number() OVER (PARTITION BY arm
                                         ORDER BY n DESC) AS rk
            FROM llr) WHERE rk = 1)
    SELECT f.arm, f.n_obs, f.n_succ, f.final_llr,
           CAST(coalesce(c.first_cross_n, -1) AS BIGINT) AS first_cross_n,
           CASE WHEN c.first_cross_n IS NULL THEN 'continue'
                WHEN f.final_llr >= 0 THEN 'accept_h1'
                ELSE 'accept_h0' END AS decision
    FROM final f LEFT JOIN crossed c ON f.arm = c.arm
    ORDER BY f.arm
    """,
)
def ab_test_sequential_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential A/B monitoring via Wald's SPRT — the always-valid
    companion to the fixed-horizon `ab_test_welch`/`ab_test_cuped`: per
    arm (user parity), walk the log-likelihood ratio of H₁: p=0.5 vs
    H₀: p=0.4 (success = purchase value ≥ 50) after every observation in
    event-time order and record the FIRST crossing of the ±ln(19)
    boundaries (α=β=0.05) — the sample size at which the experiment
    could have stopped. The LLR at step n is DERIVED from cumulative
    INTEGER counts (s·ln(p₁/p₀) + (n−s)·ln(q₁/q₀)) — never a float
    running sum, so no summation-order hazard; crossings compare the
    6dp-rounded LLR against the rounded boundary literal. One window
    over per-arm event order (at 100 TB: per-arm sequential scan is the
    point of SPRT — the walk is a cumulative count, shuffle-free beyond
    the arm partition)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    obs = ev.select(
        (F.col("user_id") % 2).alias("arm"),
        (F.col("value") >= 50.0).alias("succ"),
        "ts",
        "event_id",
    )
    w = W.partitionBy("arm").orderBy("ts", "event_id")
    import math

    c1 = math.log(0.5 / 0.4)
    c2 = math.log(0.5 / 0.6)
    walk = obs.select(
        "arm",
        F.row_number().over(w).cast("long").alias("n"),
        F.sum(F.when(F.col("succ"), 1).otherwise(0)).over(w).cast("long").alias("s"),
    )
    llr = walk.select(
        "arm",
        "n",
        "s",
        F.round(
            F.col("s") * F.lit(c1) + (F.col("n") - F.col("s")) * F.lit(c2), 6
        ).alias("llr"),
    )
    crossed = (
        llr.filter((F.col("llr") >= 2.944439) | (F.col("llr") <= -2.944439))
        .groupBy("arm")
        .agg(F.min("n").alias("first_cross_n"))
    )
    rk = F.row_number().over(W.partitionBy("arm").orderBy(F.col("n").desc()))
    final = (
        llr.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "arm",
            F.col("n").alias("n_obs"),
            F.col("s").alias("n_succ"),
            F.col("llr").alias("final_llr"),
        )
    )
    return (
        final.join(crossed, "arm", "left")
        .select(
            "arm",
            "n_obs",
            "n_succ",
            "final_llr",
            F.coalesce(F.col("first_cross_n"), F.lit(-1))
            .cast("long")
            .alias("first_cross_n"),
            F.when(F.col("first_cross_n").isNull(), F.lit("continue"))
            .when(F.col("final_llr") >= 0, F.lit("accept_h1"))
            .otherwise(F.lit("accept_h0"))
            .alias("decision"),
        )
        .orderBy("arm")
    )


@register(
    "shapley_channel_attribution",
    """
    WITH ch AS (
      SELECT DISTINCT event_type AS c FROM events
      WHERE event_type <> 'purchase'),
    uni AS (SELECT list(c ORDER BY c) AS chs, CAST(count(*) AS BIGINT) AS n
            FROM ch),
    usr AS (
      SELECT user_id,
             array_to_string(list(DISTINCT event_type ORDER BY event_type)
               FILTER (WHERE event_type <> 'purchase'), ',') AS skey,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id),
    v AS (SELECT skey, CAST(count(*) AS BIGINT) AS u,
                 CAST(sum(conv) AS BIGINT) AS c
          FROM usr WHERE skey <> '' GROUP BY skey),
    masks AS (SELECT unnest(range(0, 1 << n)) AS m FROM uni),
    subs AS (
      SELECT m.m,
             list_transform(
               list_filter(range(1, u.n + 1),
                           i -> ((m.m >> (i - 1)) & 1) = 1),
               i -> u.chs[i]) AS s
      FROM masks m, uni u),
    marg AS (
      SELECT u.chs[i] AS channel, sb.s,
             CAST(len(sb.s) AS BIGINT) AS sz,
             array_to_string(sb.s, ',') AS k0,
             array_to_string(list_sort(list_append(sb.s, u.chs[i])), ',') AS k1
      FROM subs sb, uni u, unnest(range(1, u.n + 1)) AS t(i)
      WHERE NOT ((sb.m >> (i - 1)) & 1) = 1),
    terms AS (
      SELECT mg.channel,
             factorial(CAST(mg.sz AS INTEGER))
               * factorial(CAST((SELECT n FROM uni) - 1 - mg.sz AS INTEGER))
               / factorial(CAST((SELECT n FROM uni) AS INTEGER))
             * (coalesce(v1.c * 1.0 / v1.u, 0.0)
                - coalesce(v0.c * 1.0 / v0.u, 0.0)) AS t
      FROM marg mg
      LEFT JOIN v v1 ON mg.k1 = v1.skey
      LEFT JOIN v v0 ON mg.k0 = v0.skey),
    touch AS (
      SELECT c AS channel, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM ch JOIN events e ON e.event_type = ch.c
      GROUP BY c)
    SELECT t.channel, tc.n_users,
           round(sum(t.t), 6) AS shapley_value
    FROM terms t JOIN touch tc ON t.channel = tc.channel
    GROUP BY t.channel, tc.n_users
    ORDER BY t.channel
    """,
)
def shapley_channel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value channel attribution — the game-theoretic
    completion of the attribution family (last-touch / position-based /
    time-decay): each non-purchase channel's credit is its average
    marginal lift of the conversion rate over ALL 2^(n−1) coalitions,
    φ_i = Σ_S |S|!(n−1−|S|)!/n! · (v(S∪i) − v(S)), with v(S) the
    observed conversion rate of users whose exact touched-channel set is
    S (unobserved coalitions contribute 0). The coalition lattice is
    generated IN-ROW from a ONE-ROW channel universe (n=4 → 32 marginal
    terms — constant-size driver-free algebra; the corpus is touched
    only by two keyed scans: per-user channel sets and per-set
    conversion rates, both linear). Weights are factorial ratios of
    exact ints; v values exact-count rationals; the ≤8-term Shapley sum
    rounds at 6dp far above float noise. Canonical coalition keys are
    sorted comma-joins, identical in both engines."""
    ev = _t(spark, sf_dir, "events")
    ch = (
        ev.filter(F.col("event_type") != "purchase")
        .select(F.col("event_type").alias("c"))
        .distinct()
    )
    uni = ch.agg(
        F.array_sort(F.collect_list("c")).alias("chs"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    usr = ev.groupBy("user_id").agg(
        F.array_join(
            F.array_sort(
                F.collect_set(
                    F.when(
                        F.col("event_type") != "purchase", F.col("event_type")
                    )
                )
            ),
            ",",
        ).alias("skey"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    v = (
        usr.filter(F.col("skey") != "")
        .groupBy("skey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("u"),
            F.sum("conv").cast("long").alias("c"),
        )
    )
    masks = uni.select(
        "chs",
        "n",
        F.explode(
            F.expr("sequence(0, shiftleft(1, cast(n as int)) - 1)")
        ).alias("m"),
    )
    subs = masks.withColumn(
        "s",
        F.expr(
            "transform(filter(sequence(1, cast(n as int)),"
            " i -> (shiftright(m, i - 1) & 1) = 1),"
            " i -> element_at(chs, i))"
        ),
    )
    marg = subs.select(
        "chs",
        "n",
        "s",
        F.explode(
            F.expr(
                "filter(sequence(1, cast(n as int)),"
                " i -> (shiftright(m, i - 1) & 1) != 1)"
            )
        ).alias("i"),
    ).select(
        F.element_at(F.col("chs"), F.col("i").cast("int")).alias("channel"),
        F.size("s").cast("long").alias("sz"),
        F.col("n"),
        F.array_join(F.col("s"), ",").alias("k0"),
        F.array_join(
            F.array_sort(
                F.concat(
                    F.col("s"),
                    F.array(F.element_at(F.col("chs"), F.col("i").cast("int"))),
                )
            ),
            ",",
        ).alias("k1"),
    )
    v1 = v.select(F.col("skey").alias("k1"), F.col("c").alias("c1"), F.col("u").alias("u1"))
    v0 = v.select(F.col("skey").alias("k0"), F.col("c").alias("c0"), F.col("u").alias("u0"))
    terms = (
        marg.join(F.broadcast(v1), "k1", "left")
        .join(F.broadcast(v0), "k0", "left")
        .select(
            "channel",
            (
                F.factorial(F.col("sz"))
                * F.factorial(F.col("n") - 1 - F.col("sz"))
                / F.factorial(F.col("n"))
                * (
                    F.coalesce(F.col("c1") * 1.0 / F.col("u1"), F.lit(0.0))
                    - F.coalesce(F.col("c0") * 1.0 / F.col("u0"), F.lit(0.0))
                )
            ).alias("t"),
        )
    )
    touch = (
        ev.join(F.broadcast(ch), ev.event_type == ch.c)
        .groupBy("c")
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
        .select(F.col("c").alias("channel"), "n_users")
    )
    return (
        terms.groupBy("channel")
        .agg(F.round(F.sum("t"), 6).alias("shapley_value"))
        .join(F.broadcast(touch), "channel")
        .select("channel", "n_users", "shapley_value")
        .orderBy("channel")
    )


@register(
    "win_tb_tumbling_offset_15m",
    f"""
    SELECT user_id,
           make_timestamp(epoch_us(ts)
             - ((epoch_us(ts) - {US_15MIN}) % {US_HOUR}
                + {US_HOUR}) % {US_HOUR}) AS w_start,
           CAST(count(*) AS BIGINT) AS cnt,
           round(sum(CAST(value AS DECIMAL(18,6))), 2)::DOUBLE AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def win_tb_tumbling_offset_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OFFSET-aligned tumbling windows: 1-hour windows whose grid opens
    at :15 past the hour (offset 15 min) — the alignment parameter of
    Spark's own `window(..., startTime)` and the reference's window-grid
    origin, covering timezone-local days / fiscal boundaries / staggered
    rollup grids. Same single groupBy as the epoch-aligned form; the
    floor-mod keeps pre-offset timestamps in their correct
    negative-indexed window (property pinned in the operator)."""
    ev = _t(spark, sf_dir, "events")
    return tumbling_window_tb(
        ev,
        key_cols=["user_id"],
        ts_col="ts",
        length_us=US_HOUR,
        offset_us=US_15MIN,
        aggs=[
            F.count(F.lit(1)).cast("long").alias("cnt"),
            _dsum(F.col("value")).alias("sum_value"),
        ],
    ).select("user_id", "w_start", "cnt", "sum_value")


@register(
    "lm_kneser_ney_bigrams",
    """
    WITH toks AS (
      SELECT doc_id, u.i AS pos, ws[u.i] AS w
      FROM (SELECT doc_id,
                   string_split_regex(
                     trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g')),
                     ' ') AS ws
            FROM documents) d,
           unnest(generate_series(1, len(ws))) AS u(i)
      WHERE ws[u.i] <> ''),
    bg AS (
      SELECT a.doc_id, a.w AS w1, b.w AS w2
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
    bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
           FROM bg GROUP BY w1, w2),
    uc AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                  CAST(count(*) AS BIGINT) AS n1_fwd
           FROM bc GROUP BY w1),
    cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1_bwd
             FROM bc GROUP BY w2),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM bc),
    kn AS (
      SELECT bc.w1, bc.w2, bc.c12, uc.c1,
             round((bc.c12 - 0.75) / uc.c1
                   + 0.75 * uc.n1_fwd / uc.c1
                     * (cont.n1_bwd * 1.0 / t.n_types), 6) AS p_kn
      FROM bc JOIN uc ON bc.w1 = uc.w1
              JOIN cont ON bc.w2 = cont.w2
              CROSS JOIN tot t
      WHERE bc.c12 >= 5),
    r AS (SELECT *, row_number() OVER (ORDER BY p_kn DESC, w1, w2) AS rk
          FROM kn)
    SELECT w1, w2, c12, c1, p_kn FROM r WHERE rk <= 20 ORDER BY rk
    """,
)
def lm_kneser_ney_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities — the smoothing that
    made n-gram LMs competitive and still the baseline for corpus
    perplexity tooling (`lm_perplexity_scores` uses add-k; this is the
    principled alternative): P(w₂|w₁) = max(c₁₂−D,0)/c₁ + D·N₊(w₁·)/c₁ ·
    P_cont(w₂), with discount D = 0.75 (dyadic — exactly representable)
    and the CONTINUATION probability N₊(·w₂)/|bigram types| crediting
    words by how many contexts they follow, not raw frequency. Every
    input is an exact BIGINT count, so p_kn is a fixed-order double
    expression over exact ints — engine-identical before the 6dp round;
    the c₁₂ ≥ 5 floor keeps max(c−D,0) in its linear branch. Shapes:
    one tokenize scan, position self-join per doc for bigrams (keyed,
    linear), three count aggregates, one-row type total broadcast;
    top-20 is a TakeOrdered with (w₁, w₂) tie-breaks."""
    d = _t_wide(spark, sf_dir, "documents")
    # bigrams in-row: the token ARRAY zipped with its own tail — no
    # per-position explode + self-join shuffle (the oracle's join form)
    bg = d.select(
        F.explode(
            F.expr(
                "zip_with("
                " slice(filter(split(trim(regexp_replace(lower(text),"
                "   '[^a-z]+', ' ')), ' '), w -> w != ''), 1,"
                "   greatest(size(filter(split(trim(regexp_replace(lower(text),"
                "   '[^a-z]+', ' ')), ' '), w -> w != '')) - 1, 0)),"
                " slice(filter(split(trim(regexp_replace(lower(text),"
                "   '[^a-z]+', ' ')), ' '), w -> w != ''), 2,"
                "   greatest(size(filter(split(trim(regexp_replace(lower(text),"
                "   '[^a-z]+', ' ')), ' '), w -> w != '')) - 1, 0)),"
                " (x, y) -> struct(x AS w1, y AS w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c12"))
    uc = bc.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1_fwd"),
    )
    cont = bc.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("n1_bwd"))
    tot = bc.agg(F.count(F.lit(1)).cast("long").alias("n_types"))
    kn = (
        bc.filter(F.col("c12") >= 5)
        .join(uc, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tot))  # one-row scalar attach
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            F.round(
                (F.col("c12") - 0.75) / F.col("c1")
                + 0.75
                * F.col("n1_fwd")
                / F.col("c1")
                * (F.col("n1_bwd") * 1.0 / F.col("n_types")),
                6,
            ).alias("p_kn"),
        )
    )
    # TakeOrdered top-20, never a global row_number over the full bigram
    # frame (single-partition sort of every bigram type at 100 TB)
    return (
        kn.orderBy(F.col("p_kn").desc(), "w1", "w2")
        .limit(20)
        .orderBy(F.col("p_kn").desc(), "w1", "w2")
        .select("w1", "w2", "c12", "c1", "p_kn")
    )


@register(
    "sim_maxsim_multivector",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sub AS (
      SELECT vec_id, u.s AS sub_id, v[(u.s * 16 + 1):(u.s * 16 + 16)] AS sv
      FROM e, unnest([0, 1, 2, 3]) AS u(s)),
    qs AS (SELECT vec_id AS query_id, sub_id AS q_sub, sv AS qv
           FROM sub WHERE vec_id < 5),
    ds AS (SELECT vec_id, sub_id, sv FROM sub WHERE vec_id >= 5),
    cs AS (SELECT qs.query_id, ds.vec_id, qs.q_sub,
                  max(round(list_cosine_similarity(qs.qv, ds.sv), 6)) AS mx
           FROM qs JOIN ds ON TRUE
           GROUP BY qs.query_id, ds.vec_id, qs.q_sub),
    sc AS (SELECT query_id, vec_id, round(sum(mx), 6) AS maxsim
           FROM cs GROUP BY query_id, vec_id),
    r AS (SELECT query_id, vec_id, maxsim,
                 CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY maxsim DESC, vec_id) AS BIGINT) AS rk
          FROM sc)
    SELECT query_id, vec_id, maxsim, rk FROM r WHERE rk <= 5
    """,
)
def sim_maxsim_multivector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-vector late-interaction retrieval (ColBERT MaxSim): each
    64-dim embedding is treated as FOUR 16-dim token vectors; a doc's
    score for a query is Σ over query subvectors of the MAX cosine
    against any doc subvector — fine-grained term-level matching that
    single-vector cosine flattens away. Plan: in-row subvector slicing
    (4 rows per vector), the bounded 5-query sample broadcast onto the
    corpus subvector scan (the sim_topk_bruteforce contract — at scale
    this is the exact-rerank stage AFTER an ANN candidate cut), one
    (query, doc, q_sub) max + one (query, doc) sum, per-query top-5 by
    window rank. Cosines are 6dp-rounded BEFORE the max (cross-engine
    float wobble cannot flip a max), and the 4-term MaxSim sum rounds
    again before ranking with vec_id tie-breaks."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    sub = e.select(
        "vec_id",
        "v",
        F.explode(F.array(*[F.lit(s) for s in range(4)])).alias("sub_id"),
    ).select(
        "vec_id",
        "sub_id",
        F.expr("slice(v, sub_id * 16 + 1, 16)").alias("sv"),
    )
    qs = sub.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("sub_id").alias("q_sub"),
        F.col("sv").alias("qv"),
    )
    ds = sub.filter(F.col("vec_id") >= 5)
    dot = F.aggregate(
        F.zip_with("qv", "sv", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(
        F.aggregate(
            F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    cos = F.round(dot / (nrm(F.col("qv")) * nrm(F.col("sv"))), 6)
    cs = (
        ds.join(F.broadcast(qs))
        .select("query_id", "vec_id", "q_sub", cos.alias("c"))
        .groupBy("query_id", "vec_id", "q_sub")
        .agg(F.max("c").alias("mx"))
    )
    sc = cs.groupBy("query_id", "vec_id").agg(
        F.round(F.sum("mx"), 6).alias("maxsim")
    )
    rk = F.row_number().over(
        W.partitionBy("query_id").orderBy(F.col("maxsim").desc(), "vec_id")
    )
    return (
        sc.withColumn("rk", rk.cast("long"))
        .filter(F.col("rk") <= 5)
        .select("query_id", "vec_id", "maxsim", "rk")
    )


@register(
    "quality_classifier_scores",
    """
    WITH f AS (
      SELECT doc_id, lang, n_chars,
             len(string_split_regex(trim(regexp_replace(text, '\\s+', ' ',
                                                        'g')), ' ')) AS n_tok,
             len(string_split(text, '.')) - 1 AS n_period,
             CAST(n_chars AS DOUBLE)
               / greatest(len(string_split_regex(
                   trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')), 1)
               AS chars_per_tok
      FROM documents),
    s AS (
      SELECT doc_id, lang,
             round(1.0 / (1.0 + exp(-(
               -2.0
               + 0.004 * least(n_tok, 1000)
               + 0.35  * least(chars_per_tok, 12.0)
               + 0.08  * least(n_period, 30)
               - 0.002 * least(n_chars, 2000)))), 6) AS p_quality
      FROM f)
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(p_quality), 6) AS avg_p,
           CAST(count(*) FILTER (WHERE p_quality >= 0.5) AS BIGINT) AS n_keep,
           round(count(*) FILTER (WHERE p_quality >= 0.5) * 1.0 / count(*), 6)
             AS keep_rate
    FROM s GROUP BY lang ORDER BY lang
    """,
)
def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-inference-as-query: score every document with a FIXED
    logistic-regression quality classifier (the fasttext-style keep/drop
    gate of web-corpus pipelines — here a frozen 4-feature model:
    token count, chars/token, sentence count, length penalty, all
    clipped) and report per-language keep rates at the 0.5 threshold.
    The point is the SHAPE: batch scoring is one stateless projection —
    no shuffle until the per-language rollup — so at 100 TB it fuses
    into the scan (whole-stage codegen, no UDF; a real exported model's
    coefficients drop into the same expression). Features are exact
    integers; the sigmoid is one fixed-order double expression, rounded
    6dp before the threshold so the keep decision cannot straddle
    engines."""
    d = _t_wide(spark, sf_dir, "documents")
    n_tok = F.size(
        F.split(F.trim(F.regexp_replace("text", r"\s+", " ")), " ")
    )
    n_period = F.size(F.split("text", r"\.")) - 1
    chars_per_tok = F.col("n_chars").cast("double") / F.greatest(
        n_tok, F.lit(1)
    )
    z = (
        F.lit(-2.0)
        + 0.004 * F.least(n_tok, F.lit(1000)).cast("double")
        + 0.35 * F.least(chars_per_tok, F.lit(12.0))
        + 0.08 * F.least(n_period, F.lit(30)).cast("double")
        - 0.002 * F.least(F.col("n_chars"), F.lit(2000)).cast("double")
    )
    s = d.select(
        "lang", F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("p")
    )
    return (
        s.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("p"), 6).alias("avg_p"),
            F.count(F.when(F.col("p") >= 0.5, 1)).cast("long").alias("n_keep"),
            F.round(
                F.count(F.when(F.col("p") >= 0.5, 1)) * 1.0 / F.count(F.lit(1)),
                6,
            ).alias("keep_rate"),
        )
        .orderBy("lang")
    )


@register(
    "skyline_price_size_parts",
    """
    WITH pm AS (
      SELECT p_retailprice AS price, max(p_size) AS pmax
      FROM part GROUP BY p_retailprice),
    run AS (
      SELECT price, pmax,
             max(pmax) OVER (ORDER BY price
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS prev_best
      FROM pm),
    sky AS (
      SELECT p.p_partkey, p.p_retailprice, p.p_size
      FROM part p JOIN run r ON p.p_retailprice = r.price
      WHERE p.p_size = r.pmax
        AND (r.prev_best IS NULL OR p.p_size > r.prev_best))
    SELECT p_partkey, p_retailprice, CAST(p_size AS BIGINT) AS p_size
    FROM sky ORDER BY p_retailprice, p_partkey
    """,
)
def skyline_price_size_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D SKYLINE (Pareto frontier) over parts — minimize retail price,
    maximize size: every part not dominated by a cheaper-or-equal part
    of greater-or-equal size (strict in one dimension). The textbook
    skyline operator is an O(n²) dominance anti-join; in 2-D it
    collapses to a prefix-max sweep — and the sweep DISTRIBUTES as a
    two-level pass (the oracle keeps the single-window form; single
    node): per-price max size, then (1) a GLOBAL window only over the
    ~dozen price-BUCKET summaries (prefix best of strictly-cheaper
    buckets — O(#buckets) rows, never O(#prices), which grows with the
    corpus), and (2) a per-bucket ROWS...1 PRECEDING window for the
    within-bucket prefix, PARTITIONED by bucket so it scales out. A
    part survives iff it is its price's best AND strictly beats
    max(cheaper-bucket best, within-bucket cheaper best). All
    comparisons are on raw parquet values — exact bits both engines."""
    pt = _t(spark, sf_dir, "part")
    pm = pt.groupBy(F.col("p_retailprice").alias("price")).agg(
        F.max("p_size").alias("pmax")
    ).withColumn("bkt", F.floor(F.col("price") / 100).cast("long"))
    bsum = pm.groupBy("bkt").agg(F.max("pmax").alias("bmax"))
    wb = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    bprev = bsum.withColumn("bucket_prev", F.max("bmax").over(wb)).select(
        "bkt", "bucket_prev"
    )
    wl = W.partitionBy("bkt").orderBy("price").rowsBetween(W.unboundedPreceding, -1)
    run = (
        pm.withColumn("local_prev", F.max("pmax").over(wl))
        .join(F.broadcast(bprev), "bkt")
        .withColumn(
            "prev_best", F.greatest(F.col("local_prev"), F.col("bucket_prev"))
        )
    )
    sky = (
        pt.join(run, pt.p_retailprice == run.price)
        .filter(
            (F.col("p_size") == F.col("pmax"))
            & (F.col("prev_best").isNull() | (F.col("p_size") > F.col("prev_best")))
        )
        .select(
            "p_partkey", "p_retailprice", F.col("p_size").cast("long").alias("p_size")
        )
    )
    return sky.orderBy("p_retailprice", "p_partkey")


@register(
    "dq_profile_drift_orders",
    """
    WITH cut AS (SELECT (min(epoch_us(o_orderdate))
                         + max(epoch_us(o_orderdate))) // 2 AS c FROM orders),
    tagged AS (
      SELECT CASE WHEN epoch_us(o_orderdate) <= (SELECT c FROM cut)
                  THEN 'first_half' ELSE 'second_half' END AS half,
             o_orderstatus, o_orderpriority, o_totalprice, o_custkey
      FROM orders),
    prof AS (
      SELECT half, col, n_null, ndv, n FROM (
        SELECT half, 'o_orderstatus' AS col,
               CAST(count(*) FILTER (WHERE o_orderstatus IS NULL) AS BIGINT)
                 AS n_null,
               CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS ndv,
               CAST(count(*) AS BIGINT) AS n
        FROM tagged GROUP BY half
        UNION ALL
        SELECT half, 'o_orderpriority',
               CAST(count(*) FILTER (WHERE o_orderpriority IS NULL) AS BIGINT),
               CAST(count(DISTINCT o_orderpriority) AS BIGINT),
               CAST(count(*) AS BIGINT)
        FROM tagged GROUP BY half
        UNION ALL
        SELECT half, 'o_custkey',
               CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT),
               CAST(count(DISTINCT o_custkey) AS BIGINT),
               CAST(count(*) AS BIGINT)
        FROM tagged GROUP BY half))
    SELECT a.col,
           a.n AS n_first, b.n AS n_second,
           round(a.n_null * 1.0 / a.n, 6) AS null_rate_first,
           round(b.n_null * 1.0 / b.n, 6) AS null_rate_second,
           a.ndv AS ndv_first, b.ndv AS ndv_second,
           round(abs(b.ndv * 1.0 / b.n - a.ndv * 1.0 / a.n), 6)
             AS ndv_rate_drift
    FROM prof a JOIN prof b ON a.col = b.col
    WHERE a.half = 'first_half' AND b.half = 'second_half'
    ORDER BY a.col
    """,
)
def dq_profile_drift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-PROFILE drift between temporal halves of the orders table —
    the schema-health companion to `psi_price_drift` (value distribution)
    and `ks_drift_order_prices` (shape): per tracked column, null rate
    and distinct-value rate in each half plus the NDV-rate drift — the
    signal that catches an upstream loader silently starting to emit
    nulls or collapsing a key's cardinality. One tagged scan, one
    grouped profile per column (unioned small frames), exact integer
    counts with final divisions only."""
    from windflow_spark.operators.timeutil import event_micros

    o = _t(spark, sf_dir, "orders")
    ou = o.withColumn("_ou", event_micros(o, "o_orderdate"))
    # r12 (guide §5): midpoint cut in-plan via a broadcast one-row
    # aggregate (no driver collect); the broadcast exchange is built once
    # and reused by all three profile branches
    cutf = ou.agg(F.expr("(min(_ou) + max(_ou)) div 2").alias("_cut"))
    tagged = ou.crossJoin(F.broadcast(cutf)).withColumn(
        "half",
        F.when(F.col("_ou") <= F.col("_cut"), F.lit("first_half")).otherwise(
            F.lit("second_half")
        ),
    )

    def prof(col):
        return tagged.groupBy("half").agg(
            F.lit(col).alias("col"),
            F.count(F.when(F.col(col).isNull(), 1)).cast("long").alias("n_null"),
            F.countDistinct(col).cast("long").alias("ndv"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )

    p = (
        prof("o_orderstatus")
        .unionByName(prof("o_orderpriority"))
        .unionByName(prof("o_custkey"))
    )
    a = p.filter(F.col("half") == "first_half").select(
        "col",
        F.col("n").alias("n_first"),
        F.col("n_null").alias("nn_a"),
        F.col("ndv").alias("ndv_first"),
    )
    b = p.filter(F.col("half") == "second_half").select(
        F.col("col").alias("col_b"),
        F.col("n").alias("n_second"),
        F.col("n_null").alias("nn_b"),
        F.col("ndv").alias("ndv_second"),
    )
    return (
        a.join(b, a.col == b.col_b)
        .select(
            "col",
            "n_first",
            "n_second",
            F.round(F.col("nn_a") * 1.0 / F.col("n_first"), 6).alias(
                "null_rate_first"
            ),
            F.round(F.col("nn_b") * 1.0 / F.col("n_second"), 6).alias(
                "null_rate_second"
            ),
            "ndv_first",
            "ndv_second",
            F.round(
                F.abs(
                    F.col("ndv_second") * 1.0 / F.col("n_second")
                    - F.col("ndv_first") * 1.0 / F.col("n_first")
                ),
                6,
            ).alias("ndv_rate_drift"),
        )
        .orderBy("col")
    )


@register(
    "histogram_2d_price_qty",
    """
    SELECT CAST(least(floor(l_extendedprice / 10000), 9) AS BIGINT)
             AS price_bin,
           CAST(floor(l_quantity / 10) AS BIGINT) AS qty_bin,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2)::DOUBLE
             AS sum_price
    FROM lineitem
    GROUP BY 1, 2
    ORDER BY price_bin, qty_bin
    """,
)
def histogram_2d_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D histogram (price × quantity heatmap) over lineitem — the
    binned-aggregate every BI scatter/density panel issues: fixed-width
    price bins (10k, top-clamped) × decade quantity bins, with count and
    DECIMAL-exact price mass per cell. Binning is integer floor
    arithmetic on raw values (engine-identical), one groupBy over
    ~100 cells — the M4-downsampling move for 2-D: the dashboard reads
    cells, never rows."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.least(F.floor(F.col("l_extendedprice") / 10000), F.lit(9))
            .cast("long")
            .alias("price_bin"),
            # floor, not CAST-truncate: Spark truncates decimal→long while
            # DuckDB rounds-to-nearest — floor is engine-identical even
            # for non-integral quantities
            F.floor(F.col("l_quantity") / 10).cast("long").alias("qty_bin"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            _dsum(F.col("l_extendedprice")).alias("sum_price"),
        )
        .orderBy("price_bin", "qty_bin")
    )


@register(
    "rollup_partials_hour_day",
    """
    WITH hourly AS (
      SELECT event_type, time_bucket(INTERVAL 1 HOUR, ts) AS w_start,
             CAST(count(*) AS BIGINT) AS cnt,
             sum(CAST(value AS DECIMAL(18,6))) AS sv,
             min(CAST(value AS DECIMAL(18,6))) AS mn,
             max(CAST(value AS DECIMAL(18,6))) AS mx
      FROM events GROUP BY 1, 2)
    SELECT event_type, time_bucket(INTERVAL 1 DAY, w_start) AS w_start,
           CAST(sum(cnt) AS BIGINT) AS cnt,
           round(sum(sv), 2)::DOUBLE AS sv,
           round(min(mn), 2)::DOUBLE AS mn,
           round(max(mx), 2)::DOUBLE AS mx
    FROM hourly GROUP BY 1, 2
    """,
)
def rollup_partials_hour_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate cascade THROUGH the `rollup_partials`
    operator (operators/windows.py — the TimescaleDB rollup-from-rollup
    rule, reference analog the lift+combine Ffat_Windows discipline,
    wf/ffat_windows.hpp): hourly partials (count/sum/min/max) built once
    by tumbling_window_tb, then re-aggregated onto the daily grid by
    their MERGE forms — sum of counts and sums, min of mins, max of
    maxes — never rescanning raw events. This is the registry's
    oracle-checked exercise of the operator the r10 parity test covers
    (`rollup_partials` + UPDATE-mode upsert): at 100 TB the raw scan
    happens once at the finest level and each coarser level reads ~24×
    fewer rows. Value partials accumulate as DECIMAL(18,6) (the _dsum
    discipline) so the cascade is summation-order independent; sum(cnt)
    is CAST back to BIGINT in the oracle (DuckDB HUGEINT discipline) and
    floats are 2dp-rounded on both sides only at the END."""
    ev = _t(spark, sf_dir, "events")
    hourly = tumbling_window_tb(
        ev,
        ["event_type"],
        "ts",
        3_600_000_000,
        [
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sv"),
            F.min(F.col("value").cast("decimal(18,6)")).alias("mn"),
            F.max(F.col("value").cast("decimal(18,6)")).alias("mx"),
        ],
    )
    return rollup_partials(
        hourly,
        ["event_type"],
        "w_start",
        86_400_000_000,
        [
            F.sum("cnt").cast("long").alias("cnt"),
            F.round(F.sum("sv"), 2).cast("double").alias("sv"),
            F.round(F.min("mn"), 2).cast("double").alias("mn"),
            F.round(F.max("mx"), 2).cast("double").alias("mx"),
        ],
    )


@register(
    "partial_corr_price_qty_given_discount",
    """
    WITH g AS (
      SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS sz,
             CAST(sum(CAST(l_extendedprice * l_extendedprice
                           AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(18,6)))
                  AS DOUBLE) AS syy,
             CAST(sum(CAST(l_discount * l_discount AS DECIMAL(18,6)))
                  AS DOUBLE) AS szz,
             CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(28,6)))
                  AS DOUBLE) AS sxy,
             CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(28,6)))
                  AS DOUBLE) AS sxz,
             CAST(sum(CAST(l_quantity * l_discount AS DECIMAL(18,6)))
                  AS DOUBLE) AS syz
      FROM lineitem GROUP BY 1),
    r AS (
      SELECT flag, n,
             (n * sxy - sx * sy)
               / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS rxy,
             (n * sxz - sx * sz)
               / sqrt((n * sxx - sx * sx) * (n * szz - sz * sz)) AS rxz,
             (n * syz - sy * sz)
               / sqrt((n * syy - sy * sy) * (n * szz - sz * sz)) AS ryz
      FROM g)
    SELECT flag, n, round(rxy, 6) AS r_price_qty,
           round((rxy - rxz * ryz)
                 / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 6)
             AS r_partial_given_discount
    FROM r ORDER BY flag
    """,
)
def partial_corr_price_qty_given_discount(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-order PARTIAL correlation r(price, qty | discount) per
    returnflag — the controlled-confounder companion of
    `corr_lineitem_metrics` and `spearman_corr_price_qty`: how much of
    the price~quantity association survives after removing the part each
    variable shares with discount, via the closed form
    (r_xy − r_xz·r_zy)/√((1−r_xz²)(1−r_zy²)). ONE moments pass (the
    ols2 discipline: per-term DECIMAL casts make every Σ exact and
    summation-order independent; the three Pearson r's and the partial
    are then fixed-order double expressions over exact sums —
    bit-identical across engines and partition orders). Flag-cardinality
    output; at 100 TB this is one map-side-combined scan."""
    li = _t_wide(spark, sf_dir, "lineitem")
    d18 = lambda c: F.sum(c.cast("decimal(18,6)")).cast("double")  # noqa: E731
    d28 = lambda c: F.sum(c.cast("decimal(28,6)")).cast("double")  # noqa: E731
    x, y, z = F.col("l_extendedprice"), F.col("l_quantity"), F.col("l_discount")
    g = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        d18(x).alias("sx"),
        d18(y).alias("sy"),
        d18(z).alias("sz"),
        d28(x * x).alias("sxx"),
        d18(y * y).alias("syy"),
        d18(z * z).alias("szz"),
        d28(x * y).alias("sxy"),
        d28(x * z).alias("sxz"),
        d18(y * z).alias("syz"),
    )
    n = F.col("n")
    rxy = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    rxz = (n * F.col("sxz") - F.col("sx") * F.col("sz")) / F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("szz") - F.col("sz") * F.col("sz"))
    )
    ryz = (n * F.col("syz") - F.col("sy") * F.col("sz")) / F.sqrt(
        (n * F.col("syy") - F.col("sy") * F.col("sy"))
        * (n * F.col("szz") - F.col("sz") * F.col("sz"))
    )
    return (
        g.select(
            "flag",
            "n",
            F.round(rxy, 6).alias("r_price_qty"),
            F.round(
                (rxy - rxz * ryz)
                / F.sqrt((1 - rxz * rxz) * (1 - ryz * ryz)),
                6,
            ).alias("r_partial_given_discount"),
        )
        .orderBy("flag")
    )


@register(
    "cooks_distance_influential",
    """
    WITH m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(18,6)))
                  AS DOUBLE) AS sxx,
             CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(28,6)))
                  AS DOUBLE) AS sxy,
             CAST(sum(CAST(l_extendedprice * l_extendedprice
                           AS DECIMAL(28,6))) AS DOUBLE) AS syy
      FROM lineitem),
    b AS (
      SELECT n, sx, sxx,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b1,
             (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS b0,
             (syy - sy * sy / n
              - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                * ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                * (sxx - sx * sx / n)) / (n - 2) AS s2
      FROM m),
    d AS (
      SELECT l.l_orderkey, l.l_linenumber,
             l.l_extendedprice - (b.b0 + b.b1 * l.l_quantity) AS r,
             1.0 / b.n
               + (l.l_quantity - b.sx / b.n) * (l.l_quantity - b.sx / b.n)
                 / (b.sxx - b.sx * b.sx / b.n) AS h,
             b.s2
      FROM lineitem l CROSS JOIN b)
    SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
           round(r * r / (2 * s2) * h / ((1 - h) * (1 - h)), 6) AS cooks_d
    FROM d
    ORDER BY r * r / (2 * s2) * h / ((1 - h) * (1 - h)) DESC,
             l_orderkey, l_linenumber
    LIMIT 20
    """,
)
def cooks_distance_influential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most INFLUENTIAL lineitems for the price~quantity simple
    regression by Cook's distance D_i = r_i²/(p·s²) · h_i/(1−h_i)² — the
    regression-diagnostics companion of the OLS family: which individual
    rows, if deleted, would move the fit most (leverage × residual, the
    outlier-vs-influence distinction plain residual screens miss).
    ONE exact-moment pass (per-term DECIMAL casts) produces b0/b1/s²/x̄/Sxx
    as fixed-order doubles; the per-row D_i is then a scan-fused
    projection over the ONE-ROW broadcast of those scalars (the
    scalar-attach discipline), and the global top-20 is a TakeOrdered on
    the raw double with (orderkey, linenumber) tie-breaks. At 100 TB:
    two scans (moments + score), zero keyed shuffles beyond the final
    20-row cut."""
    li = _t_wide(spark, sf_dir, "lineitem")
    d18 = lambda c: F.sum(c.cast("decimal(18,6)")).cast("double")  # noqa: E731
    d28 = lambda c: F.sum(c.cast("decimal(28,6)")).cast("double")  # noqa: E731
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    m = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        d18(x).alias("sx"),
        d18(y).alias("sy"),
        d18(x * x).alias("sxx"),
        d28(x * y).alias("sxy"),
        d28(y * y).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    b1 = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    b0 = (sy - b1 * sx) / n
    s2 = (syy - sy * sy / n - b1 * b1 * (sxx - sx * sx / n)) / (n - 2)
    b = m.select("n", "sx", "sxx", b1.alias("b1"), b0.alias("b0"), s2.alias("s2"))
    r = y - (F.col("b0") + F.col("b1") * x)
    h = (
        F.lit(1.0) / F.col("n")
        + (x - F.col("sx") / F.col("n"))
        * (x - F.col("sx") / F.col("n"))
        / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
    )
    dcol = r * r / (2 * F.col("s2")) * h / ((1 - h) * (1 - h))
    return (
        li.crossJoin(F.broadcast(b))  # one-row scalar attach
        .select(
            "l_orderkey",
            F.col("l_linenumber").cast("long").alias("l_linenumber"),
            dcol.alias("_d"),
        )
        .orderBy(F.col("_d").desc(), "l_orderkey", "l_linenumber")
        .limit(20)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("_d"), 6).alias("cooks_d"),
        )
    )


@register(
    "partition_stats_pruning",
    """
    WITH z AS (
      SELECT date_trunc('month', o_orderdate) AS part_month,
             CAST(count(*) AS BIGINT) AS n_rows,
             round(min(CAST(o_totalprice AS DECIMAL(18,6))), 2)::DOUBLE
               AS min_price,
             round(max(CAST(o_totalprice AS DECIMAL(18,6))), 2)::DOUBLE
               AS max_price,
             CAST(count(DISTINCT o_custkey) AS BIGINT) AS ndv_cust
      FROM orders GROUP BY 1)
    SELECT part_month, n_rows, min_price, max_price, ndv_cust,
           (max_price < 450000.0) AS prunable_gt450k,
           CAST(sum(CASE WHEN max_price < 450000.0 THEN n_rows ELSE 0 END)
                  OVER () AS BIGINT) AS rows_skippable_total
    FROM z ORDER BY part_month
    """,
)
def partition_stats_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map / partition-statistics audit on orders by month — the
    file-skipping primitive behind every 100 TB scan: per-partition
    min/max/count/NDV stats plus, for a concrete predicate
    (o_totalprice >= 450k), which partitions a stats-aware reader PRUNES
    without opening and how many rows that skips in total. This is the
    metadata a lakehouse keeps per parquet footer (and what
    `zorder_locality_tiles` optimizes the layout FOR); the query is one
    month-keyed aggregate + a window total over the months frame.
    min/max ride the DECIMAL cast so the 2dp round is exact on both
    engines."""
    o = _t(spark, sf_dir, "orders")
    z = o.groupBy(F.date_trunc("month", "o_orderdate").alias("part_month")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(F.min(F.col("o_totalprice").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("min_price"),
        F.round(F.max(F.col("o_totalprice").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("max_price"),
        F.countDistinct("o_custkey").cast("long").alias("ndv_cust"),
    )
    prunable = F.col("max_price") < 450000.0
    return z.select(
        "part_month",
        "n_rows",
        "min_price",
        "max_price",
        "ndv_cust",
        prunable.alias("prunable_gt450k"),
        F.sum(F.when(prunable, F.col("n_rows")).otherwise(F.lit(0)))
        .over(W.partitionBy())
        .cast("long")
        .alias("rows_skippable_total"),
    ).orderBy("part_month")


@register(
    "assoc_rules_triples",
    """
    WITH li AS (SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS pk
                FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    n AS (SELECT count(DISTINCT ok) AS nb FROM li),
    cnt AS (SELECT pk, CAST(count(*) AS BIGINT) AS c FROM li GROUP BY pk),
    b AS (SELECT ok, list_sort(list(pk)) AS ps FROM li GROUP BY ok),
    tr AS (SELECT ps[i] AS p1, ps[j] AS p2, ps[k] AS p3,
                  CAST(count(*) AS BIGINT) AS c3
           FROM b,
                unnest(generate_series(1, len(ps) - 2)) AS u1(i),
                unnest(generate_series(i + 1, len(ps) - 1)) AS u2(j),
                unnest(generate_series(j + 1, len(ps))) AS u3(k)
           GROUP BY 1, 2, 3
           HAVING count(*) >= 2),
    sc AS (SELECT tr.p1, tr.p2, tr.p3, tr.c3,
                  round(tr.c3 / CAST((SELECT nb FROM n) AS DOUBLE), 6)
                    AS support,
                  (tr.c3 * (SELECT nb FROM n) * (SELECT nb FROM n))
                    / CAST(c1.c * c2.c * c3c.c AS DOUBLE) AS lift_raw
           FROM tr JOIN cnt c1 ON tr.p1 = c1.pk
                   JOIN cnt c2 ON tr.p2 = c2.pk
                   JOIN cnt c3c ON tr.p3 = c3c.pk)
    SELECT p1, p2, p3, c3 AS cooc, support, round(lift_raw, 6) AS lift
    FROM sc
    ORDER BY lift_raw DESC, p1, p2, p3
    LIMIT 15
    """,
)
def assoc_rules_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-ITEMSETS with lift — the next lattice level above
    `assoc_rules_lift`'s pairs: top-15 BRAND triples co-bought in >= 2
    orders, lift = c₁₂₃·N²/(c₁·c₂·c₃) (independence-baseline ratio for
    three-way co-occurrence). The itemset universe is the bounded brand
    vocabulary (25 values) rather than raw part keys — at part
    granularity the sf0.1 triple space is so sparse that NO triple
    repeats (0-row first cut, and the 3-way key join cost 180 s in the
    oracle — the rewritten oracle generates i<j<k combinations from
    per-order sorted lists, the same in-row shape as the plan, 25x
    faster); brands give dense, meaningful lift at every scale and keep
    the per-basket expansion ≤ C(25,3) worst-case. Triples are generated
    IN-ROW from each order's sorted distinct-brand array (i<j<k index
    slices — the wedge-family move one level deeper) — never a 3-way
    self-join of the exploded (order, item) table. Numerators c₃·N² stay
    exact BIGINT (≤2e13 at sf1; DECIMAL(38,0) headroom documented past
    ~1e9 baskets), ONE double division at the end, (p1,p2,p3)
    tie-breaks, TakeOrdered."""
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    li = (
        _t(spark, sf_dir, "lineitem")
        .join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("pk"))
        .distinct()
    )
    nb = li.select("ok").distinct().agg(F.count(F.lit(1)).cast("long").alias("nb"))
    cnt = li.groupBy("pk").agg(F.count(F.lit(1)).cast("long").alias("c"))
    baskets = (
        li.groupBy("ok")
        .agg(F.array_sort(F.collect_set("pk")).alias("ps"))
        .filter(F.size("ps") >= 3)
    )
    tr = (
        baskets.select(
            F.explode(
                F.flatten(
                    F.flatten(
                        F.transform(
                            F.col("ps"),
                            lambda x, i: F.transform(
                                F.slice(F.col("ps"), i + 2, F.size(F.col("ps"))),
                                lambda y, k: F.transform(
                                    F.slice(
                                        F.col("ps"),
                                        i + k + 3,
                                        F.size(F.col("ps")),
                                    ),
                                    lambda z: F.struct(
                                        x.alias("p1"),
                                        y.alias("p2"),
                                        z.alias("p3"),
                                    ),
                                ),
                            ),
                        )
                    )
                )
            ).alias("t")
        )
        .select("t.p1", "t.p2", "t.p3")
        .groupBy("p1", "p2", "p3")
        .agg(F.count(F.lit(1)).cast("long").alias("c3"))
        .filter(F.col("c3") >= 2)
    )
    c1 = cnt.select(F.col("pk").alias("p1"), F.col("c").alias("ca"))
    c2 = cnt.select(F.col("pk").alias("p2"), F.col("c").alias("cb"))
    c3 = cnt.select(F.col("pk").alias("p3"), F.col("c").alias("cc"))
    sc = (
        tr.join(F.broadcast(c1), "p1")
        .join(F.broadcast(c2), "p2")
        .join(F.broadcast(c3), "p3")
        .crossJoin(F.broadcast(nb))  # one-row scalar attach
        .withColumn(
            "lift_raw",
            (F.col("c3") * F.col("nb") * F.col("nb"))
            / (F.col("ca") * F.col("cb") * F.col("cc")).cast("double"),
        )
    )
    return (
        sc.orderBy(F.col("lift_raw").desc(), "p1", "p2", "p3")
        .limit(15)
        .select(
            "p1",
            "p2",
            "p3",
            F.col("c3").alias("cooc"),
            F.round(F.col("c3") / F.col("nb").cast("double"), 6).alias("support"),
            F.round(F.col("lift_raw"), 6).alias("lift"),
        )
    )


@register(
    "funnel_windowed_3step",
    """
    WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events
               WHERE event_type IN ('view', 'click', 'purchase')),
    u AS (SELECT user_id,
                 min(CASE WHEN event_type = 'view' THEN us END) AS t1
          FROM e GROUP BY 1),
    c AS (SELECT e.user_id, min(e.us) AS t2
          FROM e JOIN u ON e.user_id = u.user_id
          WHERE e.event_type = 'click' AND u.t1 IS NOT NULL
            AND e.us > u.t1 AND e.us <= u.t1 + 86400000000
          GROUP BY 1),
    p AS (SELECT e.user_id, min(e.us) AS t3
          FROM e JOIN u ON e.user_id = u.user_id
                 JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase'
            AND e.us > c.t2 AND e.us <= u.t1 + 86400000000
          GROUP BY 1),
    d AS (SELECT u.user_id,
                 CASE WHEN u.t1 IS NULL THEN 0
                      WHEN c.t2 IS NULL THEN 1
                      WHEN p.t3 IS NULL THEN 2
                      ELSE 3 END AS depth
          FROM u LEFT JOIN c ON u.user_id = c.user_id
                 LEFT JOIN p ON u.user_id = p.user_id)
    SELECT CAST(depth AS BIGINT) AS depth,
           CAST(count(*) AS BIGINT) AS n_users
    FROM d GROUP BY 1 ORDER BY 1
    """,
)
def funnel_windowed_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step window funnel (ClickHouse windowFunnel semantics,
    greedy-earliest anchor): per user, the deepest prefix of
    view → click → purchase completable with strictly increasing
    timestamps inside 24 h of the FIRST view (t1 = earliest view,
    t2 = earliest click after t1, t3 = earliest purchase after t2, both
    within t1+24 h) — the strict-ordering generalization of
    `funnel_signup_purchase`'s 2-step form. The Spark plan is ONE
    user-keyed collect_list + a pure in-row fold (array_min over
    filtered (ts, type) structs, each step's filter referencing the
    previous step's time) — no per-step join cascade; the oracle is the
    independent 3-join formulation, so the two derivations cross-check.
    Output is the 4-row depth histogram. All-integer µs timestamps —
    engine-identical; at 100 TB this is one keyed exchange of (user,
    funnel-events) plus a 4-group count."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    u = ev.groupBy("user_id").agg(
        F.collect_list(
            F.struct(
                F.unix_micros("ts").alias("us"), F.col("event_type").alias("et")
            )
        ).alias("evs")
    )
    t1 = F.array_min(
        F.transform(
            F.filter("evs", lambda e: e.et == "view"), lambda e: e.us
        )
    )
    withs = u.withColumn("t1", t1)
    t2 = F.array_min(
        F.transform(
            F.filter(
                "evs",
                lambda e: (e.et == "click")
                & (e.us > F.col("t1"))
                & (e.us <= F.col("t1") + 86_400_000_000),
            ),
            lambda e: e.us,
        )
    )
    withs = withs.withColumn("t2", t2)
    t3 = F.array_min(
        F.transform(
            F.filter(
                "evs",
                lambda e: (e.et == "purchase")
                & (e.us > F.col("t2"))
                & (e.us <= F.col("t1") + 86_400_000_000),
            ),
            lambda e: e.us,
        )
    )
    withs = withs.withColumn("t3", t3)
    depth = (
        F.when(F.col("t1").isNull(), 0)
        .when(F.col("t2").isNull(), 1)
        .when(F.col("t3").isNull(), 2)
        .otherwise(3)
    )
    return (
        withs.select(depth.cast("long").alias("depth"))
        .groupBy("depth")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy("depth")
    )


@register(
    "page_hinkley_drift_daily",
    """
    WITH d AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
               / count(*) AS z
      FROM events GROUP BY 1, 2),
    w AS (
      SELECT event_type, day, z,
             sum(z) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cz,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
                  AS DOUBLE) AS t
      FROM d),
    m AS (
      SELECT event_type, day, z,
             sum(z - cz / t - 0.01) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph
      FROM w),
    e AS (
      SELECT event_type, day, z, ph,
             ph - min(ph) OVER (PARTITION BY event_type ORDER BY day
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS exc
      FROM m),
    s AS (
      SELECT event_type, max(exc) AS max_exc,
             CAST(sum(CASE WHEN exc > 0.25 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_alert_days
      FROM e GROUP BY 1)
    SELECT s.event_type, round(s.max_exc, 6) AS max_excursion,
           s.n_alert_days, min(e.day) AS argmax_day
    FROM s JOIN e ON s.event_type = e.event_type AND e.exc = s.max_exc
    GROUP BY 1, 2, 3
    ORDER BY 1
    """,
)
def page_hinkley_drift_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley mean-DRIFT detector per event type — the sequential
    changepoint monitor for data-quality pipelines (the online sibling of
    `ts_changepoint_meanshift` and the drift companion of `cusum_order_
    volume`): PH_t = Σ_{i≤t}(z_i − z̄_i − δ), alarm when PH_t exceeds its
    running minimum by λ (δ=0.01, λ=0.25). Daily means come from exact
    DECIMAL sums (one double division each); every cumulative term is a
    LEFT-TO-RIGHT ordered-window sum over the per-type day frame, so
    both engines add the same doubles in the same order — bit-identical.
    Output per type: max excursion, alert-day count, and the (earliest)
    day the max occurs — found by an equality join on the exact double
    rather than an argmax (deterministic tie rule). Day frames are
    ~|types|×|days| — trivially small at any corpus scale; the raw scan
    is the only big input."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("z")
    )
    wspec = W.partitionBy("event_type").orderBy("day").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    w = d.withColumn("cz", F.sum("z").over(wspec)).withColumn(
        "t",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("day"))
        .cast("double"),
    )
    m = w.withColumn(
        "ph", F.sum(F.col("z") - F.col("cz") / F.col("t") - 0.01).over(wspec)
    )
    e = m.withColumn("exc", F.col("ph") - F.min("ph").over(wspec))
    s = e.groupBy("event_type").agg(
        F.max("exc").alias("max_exc"),
        F.sum(F.when(F.col("exc") > 0.25, 1).otherwise(0))
        .cast("long")
        .alias("n_alert_days"),
    )
    ed = e.select(
        F.col("event_type").alias("et2"),
        F.col("exc").alias("mexc"),
        "day",
    )
    return (
        s.join(
            ed,
            (s.event_type == ed.et2) & (ed.mexc == s.max_exc),
        )
        .groupBy("event_type", "max_exc", "n_alert_days")
        .agg(F.min("day").alias("argmax_day"))
        .select(
            "event_type",
            F.round("max_exc", 6).alias("max_excursion"),
            "n_alert_days",
            "argmax_day",
        )
        .orderBy("event_type")
    )


@register(
    "ts_kalman_level_daily",
    """
    WITH RECURSIVE d AS (
      SELECT event_type, day, z,
             row_number() OVER (PARTITION BY event_type ORDER BY day)
               AS idx
      FROM (SELECT event_type, date_trunc('day', ts) AS day,
                   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                     / count(*) AS z
            FROM events GROUP BY 1, 2)),
    k AS (
      SELECT event_type, idx, day, z, z AS x, CAST(1.0 AS DOUBLE) AS p
      FROM d WHERE idx = 1
      UNION ALL
      SELECT d.event_type, d.idx, d.day, d.z,
             k.x + ((k.p + 0.01) / (k.p + 0.01 + 1.0)) * (d.z - k.x),
             (1.0 - (k.p + 0.01) / (k.p + 0.01 + 1.0)) * (k.p + 0.01)
      FROM k JOIN d ON d.event_type = k.event_type AND d.idx = k.idx + 1)
    SELECT event_type, day, round(z, 6) AS z, round(x, 6) AS x_filt
    FROM k ORDER BY event_type, day
    """,
)
def ts_kalman_level_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D KALMAN filter (local-level state-space model, q=0.01 r=1.0) on
    the daily mean value per event type — the probabilistic smoother the
    Holt/EWMA family approximates: gain k_t = (P+q)/(P+q+r) adapts from
    trust-the-first-observation toward the steady-state EWMA weight.
    The recursion is inherently sequential, so the Spark plan is the
    in-row JVM fold discipline (collect each type's day-sorted z array —
    bounded at |days| per key — and run ONE `aggregate` HOF carrying
    (x, P, outputs)); the oracle is DuckDB's RECURSIVE CTE over the day
    index — two independent formulations of the same fixed-order double
    recursion, bit-identical because daily z's derive from exact DECIMAL
    sums and every filter step is the same IEEE expression tree. At
    100 TB the heavy input is the raw scan; per-key state is |days|
    doubles (the reference's per-key window-state bound,
    wf/keyed_windows.hpp)."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("z")
    )
    series = d.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "z"))).alias("s")
    )
    folded = series.withColumn(
        "xs",
        F.expr(
            """
            aggregate(
              slice(s, 2, size(s) - 1),
              named_struct('x', s[0].z, 'p', CAST(1.0 AS DOUBLE),
                           'out', array(s[0].z)),
              (acc, e) -> named_struct(
                'x', acc.x + ((acc.p + 0.01) / (acc.p + 0.01 + 1.0))
                       * (e.z - acc.x),
                'p', (1.0 - (acc.p + 0.01) / (acc.p + 0.01 + 1.0))
                       * (acc.p + 0.01),
                'out', array_append(
                  acc.out,
                  acc.x + ((acc.p + 0.01) / (acc.p + 0.01 + 1.0))
                    * (e.z - acc.x))),
              acc -> acc.out)
            """
        ),
    )
    return (
        folded.select(
            "event_type",
            F.posexplode(F.arrays_zip("s", "xs")).alias("_i", "zz"),
        )
        .select(
            "event_type",
            F.col("zz.s.day").alias("day"),
            F.round(F.col("zz.s.z"), 6).alias("z"),
            F.round(F.col("zz.xs"), 6).alias("x_filt"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "embedding_pca_power_iteration",
    """
    WITH x AS (
      SELECT vec_id, u.i - 1 AS dim,
             CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1000000)
                  AS BIGINT) AS q
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)),
    s AS (SELECT dim, CAST(sum(q) AS BIGINT) AS si,
                 CAST(count(*) AS BIGINT) AS n
          FROM x GROUP BY dim),
    p AS (SELECT a.dim AS di, b.dim AS dj,
                 CAST(sum(a.q * b.q) AS BIGINT) AS sqq
          FROM x a JOIN x b ON a.vec_id = b.vec_id
          GROUP BY 1, 2),
    m AS (SELECT p.di, p.dj,
                 CAST(sa.n AS HUGEINT) * p.sqq
                   - CAST(sa.si AS HUGEINT) * sb.si AS mv
          FROM p JOIN s sa ON p.di = sa.dim
                 JOIN s sb ON p.dj = sb.dim),
    v0 AS (SELECT dim, CAST(1000000 AS HUGEINT) AS v
           FROM (SELECT DISTINCT di AS dim FROM m)),
    w1 AS (SELECT m.di, sum(m.mv * v0.v) AS wv
           FROM m JOIN v0 ON m.dj = v0.dim GROUP BY 1),
    v1 AS (SELECT di AS dim,
                  (wv * 1000000) // (SELECT max(abs(wv)) FROM w1) AS v
           FROM w1),
    w2 AS (SELECT m.di, sum(m.mv * v1.v) AS wv
           FROM m JOIN v1 ON m.dj = v1.dim GROUP BY 1),
    v2 AS (SELECT di AS dim,
                  (wv * 1000000) // (SELECT max(abs(wv)) FROM w2) AS v
           FROM w2),
    w3 AS (SELECT m.di, sum(m.mv * v2.v) AS wv
           FROM m JOIN v2 ON m.dj = v2.dim GROUP BY 1),
    v3 AS (SELECT di AS dim,
                  (wv * 1000000) // (SELECT max(abs(wv)) FROM w3) AS v
           FROM w3)
    SELECT CAST(dim AS BIGINT) AS dim,
           round(CAST(v AS DOUBLE) / 1000000.0, 6) AS loading
    FROM v3
    ORDER BY abs(v) DESC, dim
    LIMIT 8
    """,
)
def embedding_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE exact-integer power-iteration steps toward the principal
    component of the embedding covariance — the spectral member of the
    second-order family (`embedding_covariance_topk` finds the biggest
    off-diagonal entries; this runs the eigensolver's per-round
    primitive). What is pinned is the ITERATION, exactly: convergence to
    the true eigenvector needs O(log(1/ε)/log(λ₁/λ₂)) rounds and the
    synthetic embeddings are near-isotropic (λ₁/λ₂ ≈ 1.013 measured —
    numpy cross-check in CHANGES_r11), so no power method converges in
    few rounds HERE; on a real corpus with spectral decay the same three
    rounds land within a few percent. Exactness is the whole trick: values quantize to 1e-6-grid BIGINTs, the UNSCALED
    covariance numerator M = n·Σq_iq_j − Σq_iΣq_j stays an exact
    DECIMAL(38,0)/HUGEINT, and each iteration is (a) an exact integer
    mat-vec over the 64×64 frame — summation-ORDER-FREE because integer
    addition is associative, the reason floats are banned here — and
    (b) an exact L∞ re-normalization v ← (w·1e6) div max|w|, where both
    engines' integer division truncates toward zero (verified:
    DuckDB HUGEINT `//`, Spark DECIMAL `div`). Headroom: |w| ≤
    64·|M|·1e6 ≈ 3e26 ≪ 1e38. The matrix lives as a 4096-row frame
    (localCheckpoint lineage cut, the landmark-BFS discipline, so three
    iterations don't re-scan the corpus); mat-vecs are dim-sized keyed
    joins. At 100 TB only the ONE moments scan touches the corpus —
    iteration cost is independent of n. Sign/ties are exact-integer
    deterministic; top-8 |loading| with dim tie-break."""
    q, s = _quantized_embeddings(spark, sf_dir)
    pairs = q.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("q"),
                    lambda x, i: F.transform(
                        F.col("q"),
                        lambda y, j: F.struct(
                            i.alias("di"), j.alias("dj"), (x * y).alias("xy")
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.di", "p.dj", "p.xy")
    p = pairs.groupBy("di", "dj").agg(F.sum("xy").cast("long").alias("sqq"))
    sa = s.select(F.col("dim").alias("di"), F.col("si").alias("sia"), "n")
    sb = s.select(F.col("dim").alias("dj"), F.col("si").alias("sib"))
    m = (
        p.join(F.broadcast(sa), "di")
        .join(F.broadcast(sb), "dj")
        .select(
            "di",
            "dj",
            (
                F.col("n").cast("decimal(38,0)") * F.col("sqq")
                - F.col("sia").cast("decimal(38,0)") * F.col("sib")
            ).alias("mv"),
        )
    )
    # r12 (guide §5, measured): the three mat-vec rounds over the dim²
    # matrix ran as ~7 chained dim-sized exchanges (join + agg + scalar
    # crossJoin per round) behind an eager checkpoint job. The matrix is
    # DIMENSION-bounded — dim²=4096 rows regardless of corpus size, the
    # same bound that justifies the Lloyd-training collects in the sim_*
    # family — so collect it ONCE (the only corpus-touching job) and run
    # the exact integer iteration in the driver: Python ints are
    # arbitrary-precision, so Σ mv·v matches the DECIMAL(38,0) sum
    # bit-for-bit (headroom note above), and `_tdiv` reproduces Spark's
    # DECIMAL `div` (truncation toward zero; Python `//` floors, which
    # differs on negatives). The final ordering/rounding projection stays
    # IN SPARK over the dim-sized result frame, so the emitted doubles go
    # through the identical round(cast(double)/1e6, 6) expression as
    # before. At 100 TB nothing changes: one scan-and-reduce job, one
    # 4096-row collect, O(dim²) driver arithmetic.
    rows = m.collect()
    mat: dict[tuple[int, int], int] = {
        (r["di"], r["dj"]): int(r["mv"]) for r in rows
    }
    dims = sorted({di for di, _ in mat})

    def _tdiv(a: int, b: int) -> int:
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    vec = {d: 1_000_000 for d in dims}
    for _ in range(3):
        w = {
            di: sum(mat[(di, dj)] * vec[dj] for dj in dims) for di in dims
        }
        mx = max(abs(x) for x in w.values())
        vec = {d: _tdiv(w[d] * 1_000_000, mx) for d in dims}
    from decimal import Decimal

    v = spark.createDataFrame(
        [(d, Decimal(vec[d])) for d in dims], "dim int, v decimal(38,0)"
    )
    return (
        v.orderBy(F.abs(F.col("v")).desc(), "dim")
        .limit(8)
        .select(
            F.col("dim").cast("long").alias("dim"),
            F.round(F.col("v").cast("double") / 1_000_000.0, 6).alias("loading"),
        )
    )


@register(
    "ts_matrix_profile_daily",
    """
    WITH d AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
               / count(*) AS z
      FROM events GROUP BY 1, 2),
    a AS (SELECT event_type, list(z ORDER BY day) AS zs,
                 list(day ORDER BY day) AS days
          FROM d GROUP BY 1),
    s AS (SELECT event_type, i, days[i] AS day_start,
                 zs[i] AS z0, zs[i+1] AS z1, zs[i+2] AS z2,
                 zs[i+3] AS z3, zs[i+4] AS z4
          FROM a, unnest(generate_series(1, len(zs) - 4)) AS u(i)),
    p AS (SELECT x.event_type, x.i, x.day_start, y.i AS j,
                 (((((x.z0 - y.z0) * (x.z0 - y.z0)
                    + (x.z1 - y.z1) * (x.z1 - y.z1))
                    + (x.z2 - y.z2) * (x.z2 - y.z2))
                    + (x.z3 - y.z3) * (x.z3 - y.z3))
                    + (x.z4 - y.z4) * (x.z4 - y.z4)) AS dist
          FROM s x JOIN s y ON x.event_type = y.event_type
                          AND abs(x.i - y.i) >= 5),
    r AS (SELECT event_type, i, day_start, j, dist,
                 row_number() OVER (PARTITION BY event_type, i
                                    ORDER BY dist, j) AS rn
          FROM p)
    SELECT event_type, CAST(i AS BIGINT) AS i, day_start,
           round(sqrt(dist), 6) AS mp_dist, CAST(j AS BIGINT) AS nn_idx
    FROM r WHERE rn = 1 ORDER BY event_type, i
    """,
)
def ts_matrix_profile_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRIX PROFILE (1-NN subsequence distance, window 5, exclusion
    zone 5) over the daily mean-value series per event type — the motif/
    discord-discovery primitive of the UCR time-series-mining line: a
    LOW profile value marks a repeated motif, the HIGHEST marks the
    series' anomaly (`ts_changepoint_meanshift` finds level shifts; this
    finds repeated/unique SHAPES). Daily means ride exact DECIMAL sums;
    each pairwise distance is the SAME left-associated 5-term IEEE sum
    on both engines, so even equal-distance ties break identically
    (then by neighbor index). Day frames are |types|x|days| — the
    all-pairs stage is C(~26,2) per type, trivially bounded at any
    corpus scale (the raw scan is the only big input); the 1-NN is a
    per-subsequence min via rank-1 window on that tiny frame. At real
    series lengths this becomes the STOMP O(n²) kernel over a
    re-partitioned subsequence frame — the in-row slice shape is the
    seam."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("z")
    )
    a = d.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "z"))).alias("sd")
    )
    s = (
        a.select(
            "event_type",
            F.expr("transform(sd, e -> e.z)").alias("zs"),
            F.expr("transform(sd, e -> e.day)").alias("days"),
        )
        .select(
            "event_type",
            F.explode(F.sequence(F.lit(1), F.size("zs") - 4)).alias("i"),
            F.col("zs"),
            F.col("days"),
        )
        .select(
            "event_type",
            "i",
            F.expr("days[i-1]").alias("day_start"),
            F.expr("zs[i-1]").alias("z0"),
            F.expr("zs[i]").alias("z1"),
            F.expr("zs[i+1]").alias("z2"),
            F.expr("zs[i+2]").alias("z3"),
            F.expr("zs[i+3]").alias("z4"),
        )
    )
    y = s.select(
        F.col("event_type").alias("et2"),
        F.col("i").alias("j"),
        *[F.col(f"z{k}").alias(f"y{k}") for k in range(5)],
    )
    dist = (
        (
            (
                (
                    (F.col("z0") - F.col("y0")) * (F.col("z0") - F.col("y0"))
                    + (F.col("z1") - F.col("y1")) * (F.col("z1") - F.col("y1"))
                )
                + (F.col("z2") - F.col("y2")) * (F.col("z2") - F.col("y2"))
            )
            + (F.col("z3") - F.col("y3")) * (F.col("z3") - F.col("y3"))
        )
        + (F.col("z4") - F.col("y4")) * (F.col("z4") - F.col("y4"))
    )
    p = (
        s.join(
            y,
            (s.event_type == y.et2) & (F.abs(s.i - y.j) >= 5),
        )
        .withColumn("dist", dist)
    )
    rn = F.row_number().over(
        W.partitionBy("event_type", "i").orderBy("dist", "j")
    )
    return (
        p.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("i").cast("long").alias("i"),
            "day_start",
            F.round(F.sqrt("dist"), 6).alias("mp_dist"),
            F.col("j").cast("long").alias("nn_idx"),
        )
        .orderBy("event_type", "i")
    )


@register(
    "forecast_backtest_rolling_origin",
    """
    WITH d AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    w AS (
      SELECT event_type, day, c,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
             count(*) OVER (PARTITION BY event_type) AS nd,
             lag(c) OVER (PARTITION BY event_type ORDER BY day) AS naive_p,
             CAST(sum(c) OVER (PARTITION BY event_type ORDER BY day
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS DOUBLE)
               / (row_number() OVER (PARTITION BY event_type ORDER BY day)
                  - 1) AS mean_p
      FROM d),
    e AS (
      SELECT event_type, day, c, naive_p, mean_p,
             CAST(abs(c - naive_p) AS DECIMAL(18,6)) AS e_naive,
             CAST(round(abs(c - mean_p), 6) AS DECIMAL(18,6)) AS e_mean
      FROM w WHERE t > nd - 14),
    m AS (
      SELECT event_type, model, CAST(count(*) AS BIGINT) AS n_evals,
             round(CAST(sum(err) AS DOUBLE) / count(*), 6) AS mae
      FROM (SELECT event_type, 'naive' AS model, e_naive AS err FROM e
            UNION ALL
            SELECT event_type, 'expanding_mean', e_mean FROM e)
      GROUP BY 1, 2)
    SELECT event_type, model, n_evals, mae FROM m
    ORDER BY event_type, model
    """,
)
def forecast_backtest_rolling_origin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin forecast BACKTEST — the evaluation harness every
    forecaster in the registry (`ts_ar1_daily_forecast`, `ts_holt_*`,
    `ts_mase_seasonal_naive`) should be judged by: for each of the last
    14 days per event type, forecast from data strictly BEFORE that day
    (expanding window, no leakage — the temporal-embargo discipline of
    `split_temporal_embargo` applied to model eval) and score MAE.
    Models: naive last-value and the expanding mean (the two baselines
    every paper is beaten by). Exactness: naive errors are |int − int|
    exact BIGINTs; expanding-mean errors round to 6dp FIRST and then sum
    as DECIMAL(18,6) — order-independent — so the final MAE is one
    deterministic double division (the round-then-decimal-sum move for
    aggregating unordered doubles). Day frames only; the raw scan is the
    single corpus pass."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    wo = W.partitionBy("event_type").orderBy("day")
    w = (
        d.withColumn("t", F.row_number().over(wo))
        .withColumn("nd", F.count(F.lit(1)).over(W.partitionBy("event_type")))
        .withColumn("naive_p", F.lag("c").over(wo))
        .withColumn(
            "mean_p",
            F.sum("c")
            .over(wo.rowsBetween(W.unboundedPreceding, -1))
            .cast("double")
            / (F.row_number().over(wo) - 1),
        )
    )
    e = w.filter(F.col("t") > F.col("nd") - 14).select(
        "event_type",
        F.abs(F.col("c") - F.col("naive_p"))
        .cast("decimal(18,6)")
        .alias("e_naive"),
        F.round(F.abs(F.col("c") - F.col("mean_p")), 6)
        .cast("decimal(18,6)")
        .alias("e_mean"),
    )
    stacked = e.select(
        "event_type", F.lit("naive").alias("model"), F.col("e_naive").alias("err")
    ).unionByName(
        e.select(
            "event_type",
            F.lit("expanding_mean").alias("model"),
            F.col("e_mean").alias("err"),
        )
    )
    return (
        stacked.groupBy("event_type", "model")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_evals"),
            F.round(F.sum("err").cast("double") / F.count(F.lit(1)), 6).alias(
                "mae"
            ),
        )
        .orderBy("event_type", "model")
    )


@register(
    "decontam_embedding_near",
    """
    WITH q AS (SELECT vec_id AS eval_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 50),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS cv
          FROM embeddings WHERE vec_id >= 50),
    s AS (SELECT c.vec_id, q.eval_id,
                 round(list_cosine_similarity(qv, cv), 6) AS cos_sim
          FROM c JOIN q ON TRUE),
    b AS (SELECT vec_id, max(cos_sim) AS max_cos FROM s GROUP BY 1),
    bm AS (SELECT b.vec_id, b.max_cos, min(s.eval_id) AS eval_id
           FROM b JOIN s ON b.vec_id = s.vec_id AND s.cos_sim = b.max_cos
           GROUP BY 1, 2),
    f AS (SELECT CAST(count(*) AS BIGINT) AS n_flagged FROM b
          WHERE max_cos >= 0.45)
    SELECT bm.vec_id, bm.eval_id, bm.max_cos,
           (SELECT n_flagged FROM f) AS n_flagged_total
    FROM bm
    ORDER BY bm.max_cos DESC, bm.vec_id
    LIMIT 15
    """,
)
def decontam_embedding_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination — the embedding-space sibling of the
    n-gram `decontam_eval_train_overlap`: flag TRAIN vectors whose max
    cosine against the (bounded) EVAL split clears a near-match
    threshold (0.45 on this synthetic corpus; paraphrased leakage that
    exact n-gram matching misses is the attack this catches). The eval
    side is broadcast onto one corpus scan (the brute_force_topk /
    MaxSim contract — eval sets are bounded by construction; a
    corpus-sized right side would use the LSH/IVF path instead); per
    train vector ONE max-aggregate, best-match attribution by equality
    join on the 6dp-rounded max (earliest eval_id tie-break — the
    page_hinkley argmax discipline), flagged-count attached as a scalar.
    Top-15 by max_cos with vec_id tie-break, TakeOrdered."""
    from windflow_spark.functions.similarity import as_double_array, cosine

    emb = _t_wide(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("eval_id"), as_double_array("embedding").alias("qv")
    )
    c = emb.filter(F.col("vec_id") >= 50).select(
        "vec_id", as_double_array("embedding").alias("cv")
    )
    s = c.join(F.broadcast(q)).select(
        "vec_id",
        "eval_id",
        F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
    )
    b = s.groupBy("vec_id").agg(F.max("cos_sim").alias("max_cos"))
    s2 = s.select(
        F.col("vec_id").alias("v2"), F.col("eval_id"), F.col("cos_sim")
    )
    bm = (
        b.join(s2, (b.vec_id == s2.v2) & (s2.cos_sim == b.max_cos))
        .groupBy("vec_id", "max_cos")
        .agg(F.min("eval_id").alias("eval_id"))
    )
    f = b.agg(
        F.sum(F.when(F.col("max_cos") >= 0.45, 1).otherwise(0))
        .cast("long")
        .alias("n_flagged_total")
    )
    return (
        bm.crossJoin(F.broadcast(f))  # one-row scalar attach
        .orderBy(F.col("max_cos").desc(), "vec_id")
        .limit(15)
        .select("vec_id", "eval_id", "max_cos", "n_flagged_total")
    )


@register(
    "mix_epochs_schedule",
    """
    WITH s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(list_filter(string_split(text, ' '),
                                      x -> x <> ''))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1),
    w AS (SELECT s.*,
                 CAST(round(sqrt(CAST(n_tokens AS DOUBLE)), 6)
                      AS DECIMAL(18,6)) AS rw
          FROM s),
    t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
                 sum(rw) AS denom FROM w)
    SELECT w.source, w.n_docs, w.n_tokens,
           round(CAST(w.rw AS DOUBLE) / CAST((SELECT denom FROM t) AS DOUBLE),
                 6) AS target_weight,
           CAST(round(CAST(w.rw AS DOUBLE)
                      / CAST((SELECT denom FROM t) AS DOUBLE)
                      * (SELECT total FROM t)) AS BIGINT) AS budget_tokens,
           round(CAST(w.rw AS DOUBLE) / CAST((SELECT denom FROM t) AS DOUBLE)
                 * (SELECT total FROM t) / w.n_tokens, 6) AS epochs,
           (CAST(w.rw AS DOUBLE) / CAST((SELECT denom FROM t) AS DOUBLE)
            * (SELECT total FROM t) / w.n_tokens > 1.0) AS upsampled
    FROM w ORDER BY w.source
    """,
)
def mix_epochs_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-MIXING epoch schedule — the planning table behind every
    pretraining mixture recipe: per source, measured token counts, the
    TEMPERATURE-derived target weight w_i ∝ √tokens_i (τ=2 — the
    multilingual-mixing move that upweights small sources), the token
    budget that weight implies at constant total, the EPOCH factor
    budget/tokens (>1 = the source repeats — the upsampling signal
    Dolma/LLaMA-style recipes cap), and the upsampled flag.
    Executes-the-plan companions: `mix_sources_balanced` /
    `mix_sources_temperature` materialize mixtures; THIS query is the
    audit that says how many epochs each source sustains first. One
    token-count scan (the whitespace tokenizer of the vocab family),
    source-cardinality algebra, one-row total attach. Exactness: √tok
    rounds to 6dp and sums as DECIMAL (the round-then-decimal-sum move —
    a groupBy sum of raw doubles would be partition-order dependent), so
    every ratio is a deterministic division of exact quantities."""
    d = _t_wide(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.size(
                F.filter(F.split(F.col("text"), " "), lambda x: x != "")
            )
        )
        .cast("long")
        .alias("n_tokens"),
    )
    w = s.withColumn(
        "rw",
        F.round(F.sqrt(F.col("n_tokens").cast("double")), 6).cast(
            "decimal(18,6)"
        ),
    )
    t = w.agg(
        F.sum("n_tokens").cast("long").alias("total"),
        F.sum("rw").alias("denom"),
    )
    weight = F.col("rw").cast("double") / F.col("denom").cast("double")
    epochs = weight * F.col("total") / F.col("n_tokens")
    return (
        w.crossJoin(F.broadcast(t))  # one-row scalar attach
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(weight, 6).alias("target_weight"),
            F.round(weight * F.col("total")).cast("long").alias("budget_tokens"),
            F.round(epochs, 6).alias("epochs"),
            (epochs > 1.0).alias("upsampled"),
        )
        .orderBy("source")
    )
