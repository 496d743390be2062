"""Regrowth guards for the operator registry (``queries.py``) and the
coverage map generated from it. Pure Python: no SparkSession starts.

A ``q_*`` function is either a ``QUERIES`` entry or timed by name in
``bench.BENCH_QUERIES``; a ``SQL_*`` constant is either an ``ORACLES``
value or a reference a test compares against. Anything else is code
nothing runs.
"""

from __future__ import annotations

import ast
import pathlib
import subprocess
import sys

import bench
from linkedspending_spark import queries as Q

ROOT = pathlib.Path(__file__).resolve().parent.parent


def test_every_q_function_is_registered_or_timed():
    registered = set(Q.QUERIES.values())
    timed = {f"q_{name}" for name in bench.BENCH_QUERIES}
    stray = sorted(
        name
        for name, fn in vars(Q).items()
        if name.startswith("q_") and fn not in registered and name not in timed
    )
    assert stray == []


def test_bench_queries_resolve():
    missing = [
        name for name in bench.BENCH_QUERIES
        if not callable(getattr(Q, f"q_{name}", None))
    ]
    assert missing == []


def _names_tests_import_from_queries() -> set[str]:
    names = set()
    for path in (ROOT / "tests").rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom) and (node.module or "").endswith(
                "queries"
            ):
                names.update(a.name for a in node.names)
    return names


def test_every_sql_constant_is_an_oracle_or_test_reference():
    oracle_ids = {id(sql) for sql in Q.ORACLES.values()}
    imported = _names_tests_import_from_queries()
    stray = sorted(
        name
        for name, sql in vars(Q).items()
        if name.startswith("SQL_")
        and id(sql) not in oracle_ids
        and name not in imported
    )
    assert stray == []


def test_operators_md_matches_generator():
    out = subprocess.run(
        [sys.executable, "tools/gen_coverage.py"],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout
    assert out == (ROOT / "OPERATORS.md").read_text(), (
        "OPERATORS.md is stale: python tools/gen_coverage.py > OPERATORS.md"
    )
