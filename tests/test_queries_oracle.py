"""Every registered query hash-matches its DuckDB oracle at sf0.001 — the
same check the driver runs at sf0.01 (metamorphic strategy from SURVEY.md §5:
result invariance across engines replaces the reference's global checksum)."""

from __future__ import annotations

import os
import subprocess
import sys

import duckdb
import pytest

import __spark_entry__ as entry_mod
from tools.check_correctness import TABLES, compare


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, duck):
    sdf = QUERIES[name](spark, sf_dir).toPandas()
    if name not in ORACLES:
        assert len(sdf) >= 0  # rows-only contract
        return
    ddf = duck.execute(ORACLES[name]).df()
    problems = compare(name, sdf, ddf)
    assert not problems, f"{name}: {problems}"


def test_check_correctness_runs_outside_repo_root(sf_dir, tmp_path):
    # pandas-UDF workers must find windflow_spark when the tool is started
    # from another directory; PYTHONPATH is dropped so the child relies on
    # nothing this test process exported
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    out = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "check_correctness.py"),
         sf_dir, "multimodal_decode"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert "PASS multimodal_decode" in out.stdout, out.stdout[-2000:]


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns[0] == "l_returnflag"


@pytest.mark.parametrize(
    "rows",
    [
        [(1, 0.0), (2, 0.04), (2, 0.04), (5, 0.1), (5, 0.0), (1, 0.1), (3, 0.04)],
        [(3, 0.02), (3, 0.05)],
        [],
    ],
    ids=["ties", "one_quantity", "empty"],
)
def test_kendall_fold_matches_oracle_on_edge_inputs(spark, tmp_path, rows):
    # kendall_tau_qty_discount folds its cell table in the driver; the
    # oracle's SQL sums over no rows are NULL (no pair of distinct
    # quantities, or no rows at all), and the fold must say the same
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "l_quantity": pa.array([float(q) for q, _ in rows], pa.float64()),
                "l_discount": pa.array([d for _, d in rows], pa.float64()),
            }
        ),
        str(tmp_path / "lineitem.parquet"),
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'lineitem.parquet'}')"
    )
    name = "kendall_tau_qty_discount"
    sdf = QUERIES[name](spark, str(tmp_path)).toPandas()
    problems = compare(name, sdf, con.execute(ORACLES[name]).df())
    assert not problems, problems
