"""Registry-wide lint for the _dsum DECIMAL-summation discipline.

Rounding a raw-double SUM of a money-scale column is summation-order
dependent: Spark's partial-agg combine order differs by machine and
partition layout, so a sum landing within an ULP of a rounding boundary
flips the rounded cent on one machine and not another. That exact failure
put `rollup_hierarchy_hourly_daily` red on the r8 driver while passing
locally at both scales. The repo-wide rule (queries.py `_dsum`): accumulate
money-scale doubles as DECIMAL(18,6) — order-independent — then round.

This test is the grep that keeps the class dead: any new registry query
that rounds a raw-double sum of a money-scale column fails CI here before
it can flip on the driver's machine.
"""

import re
from pathlib import Path

QUERIES_SRC = (
    Path(__file__).resolve().parent.parent / "windflow_spark" / "queries.py"
).read_text()

# Money-scale double columns in the test tables: arbitrary-mantissa values
# whose per-group sums reach 1e5..1e9, where a double sum's order-dependent
# error (~n·eps·|sum|) is large enough to straddle a cent boundary.
MONEY_COLS = r"(?:value|o_totalprice|l_extendedprice|c_acctbal)"


def test_no_rounded_raw_double_sum_in_oracle_sql():
    # round(sum(<money col>) ...) without a CAST(... AS DECIMAL) inside.
    pat = re.compile(r"round\(sum\((?:[a-z_]+\.)?" + MONEY_COLS + r"\b")
    hits = [
        f"line {QUERIES_SRC[: m.start()].count(chr(10)) + 1}: {m.group(0)}"
        for m in pat.finditer(QUERIES_SRC)
    ]
    assert not hits, (
        "oracle SQL rounds a raw-double sum (order-dependent; use "
        "round(sum(CAST(x AS DECIMAL(18,6))), n)::DOUBLE): " + "; ".join(hits)
    )


def test_no_rounded_raw_double_sum_in_spark_code():
    # _r2(F.sum("value")) / F.round(F.sum("value"), n) without a decimal cast.
    pat = re.compile(r'(?:_r2|F\.round)\(\s*F\.sum\("' + MONEY_COLS + r'"\)')
    hits = [
        f"line {QUERIES_SRC[: m.start()].count(chr(10)) + 1}: {m.group(0)}"
        for m in pat.finditer(QUERIES_SRC)
    ]
    assert not hits, (
        "Spark code rounds a raw-double sum (order-dependent; use _dsum "
        "or F.sum(col.cast('decimal(18,6)'))): " + "; ".join(hits)
    )


def test_dsum_helper_still_decimal():
    # The helper itself must keep the decimal accumulation (a revert to
    # F.round(F.sum(expr), 2) would silently reopen the whole class).
    m = re.search(r"def _dsum.*?return (.+)\n", QUERIES_SRC, re.S)
    assert m and 'cast("decimal(18,6)")' in m.group(1)


def test_decimal_div_truncates_toward_zero(spark):
    """embedding_pca_power_iteration reproduces Spark's DECIMAL `div` in
    the driver; DECIMAL div must truncate toward zero (Python // floors,
    which differs on negatives) — pin the engine semantic the fold
    assumes, on both sign combinations."""
    row = spark.sql(
        "SELECT CAST(CAST(-7000000 AS DECIMAL(38,0)) div 3 AS LONG) AS a, "
        "CAST(CAST(7000000 AS DECIMAL(38,0)) div -3 AS LONG) AS b, "
        "CAST(CAST(7000000 AS DECIMAL(38,0)) div 3 AS LONG) AS c"
    ).first()

    def tdiv(a: int, b: int) -> int:
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    assert row["a"] == tdiv(-7000000, 3) == -2333333
    assert row["b"] == tdiv(7000000, -3) == -2333333
    assert row["c"] == tdiv(7000000, 3) == 2333333
