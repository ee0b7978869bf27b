"""The query surface at sf0.001: every registered query against its
DuckDB oracle twin, the golden pins, and determinism checks.

The partition-invariance check (same result at different parallelism)
is the determinism gate FIXTURES.md §6 requires before any timing at
two parallelism levels is compared.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

import __spark_entry__ as entrymod
import bench
from dle import queries as q
from dle.resultcheck import compare, duck_views, table_hash

SF = "/root/testdata/sf0.001"
ORACLES = entrymod.oracle_sql()
# rows, sorted cols and table_hash of 16 gates, pinned from the DuckDB
# oracle at sf0.001 (FIXTURES.md §6).
GOLDEN = json.loads(
    (Path(__file__).parent / "golden" / "sf0001.json").read_text())


@pytest.fixture(scope="module")
def duck():
    con = duck_views(SF)
    yield con
    con.close()


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"designation", "n_points", "n_pages"}


@pytest.mark.parametrize("name", list(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    sdf = entrymod.queries()[name](spark, SF)
    srows = sdf.collect()
    assert len(srows) > 0
    problems = compare(sdf.columns, srows, sdf.schema,
                       duck.sql(ORACLES[name]))
    assert not problems, "; ".join(problems)
    # Python runs only as Arrow batches: a row-wise UDF node in the
    # executed plan means one pickle round trip per row
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, f"{name}: row-wise Python UDF"
    if name in GOLDEN:
        got = {"rows": len(srows), "cols": sorted(sdf.columns),
               "sha256": table_hash(sdf.columns, srows)}
        assert got == GOLDEN[name], f"golden pin {name} drifted"


def test_every_query_has_oracle():
    assert set(ORACLES) == set(entrymod.queries())


def test_headline_names_registered():
    assert set(bench.HEADLINE) <= set(q.queries())


def test_check_oracle_rejects_unknown_names():
    """A typo'd gate name must fail the CLI, not match nothing and
    report 0 failures."""
    import subprocess
    import sys
    tool = Path(__file__).resolve().parents[1] / "tools" / "check_oracle.py"
    r = subprocess.run(
        [sys.executable, str(tool), SF, "spatial_pip_join", "no_such_query"],
        capture_output=True, text=True, timeout=120)
    assert r.returncode == 1
    assert "unknown query name(s): no_such_query" in r.stderr
    assert "failures" not in r.stdout


def test_check_oracle_from_another_directory(tmp_path):
    """Run from outside the repo, the CLI's Python workers still import
    `dle` to unpickle a UDF gate. The repo root is stripped from the
    inherited PYTHONPATH, so only the session factory can supply it."""
    import os
    import subprocess
    import sys
    root = Path(__file__).resolve().parents[1]
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and Path(p).resolve() != root)
    r = subprocess.run(
        [sys.executable, str(root / "tools" / "check_oracle.py"), SF,
         "spatial_pip_polygon"],
        capture_output=True, text=True, timeout=300, cwd=tmp_path, env=env)
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    assert "PASS spatial_pip_polygon" in r.stdout


def test_pip_join_partition_invariance(spark):
    df = q.q_spatial_pip_join(spark, SF)
    a = sorted(map(tuple, df.coalesce(1).collect()))
    b = sorted(map(tuple, df.repartition(16).collect()))
    assert a == b


def test_precedence_never_exceeds_pairs(spark):
    pairs = q.q_spatial_pip_join(spark, SF)
    won = q.q_spatial_pip_precedence(spark, SF)
    n_points = pairs.select("page_id", "cand_i").distinct().count()
    assert won.count() == n_points
