"""Driver-built relations go through ``sources.local.local_frame``.

Covers the helper's typing (nulls, non-nullable schemas, quoting,
non-ASCII, zero rows), the backslash values the old hand-written
``VALUES`` SQL builders mangled, the LocalRelation plan shape, and a
pure-Python scan that keeps every other route out of the package.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

from linkedspending_spark.sources.local import local_frame
from linkedspending_spark.sources.manifest import MANIFEST_SCHEMA, ManifestStore

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "linkedspending_spark"

_LITERAL_ROWS = (ast.List, ast.Tuple, ast.ListComp, ast.GeneratorExp, ast.SetComp)


def driver_frame_violations(source: str, filename: str = "<src>") -> list[str]:
    """``createDataFrame`` over literal rows, or ``.sql`` over an
    f-string ``VALUES {...}`` table, outside ``local_frame``."""
    found = []

    def visit(node: ast.AST, in_helper: bool) -> None:
        if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
            in_helper = True
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            arg = node.args[0] if node.args else None
            where = f"{filename}:{node.lineno}"
            if (
                node.func.attr == "createDataFrame"
                and isinstance(arg, _LITERAL_ROWS)
                and not in_helper
            ):
                found.append(f"{where}: createDataFrame over Python rows")
            if (
                node.func.attr == "sql"
                and isinstance(arg, ast.JoinedStr)
                and "VALUES {" in ast.unparse(arg)
            ):
                found.append(f"{where}: spark.sql VALUES builder")
        for child in ast.iter_child_nodes(node):
            visit(child, in_helper)

    visit(ast.parse(source, filename), False)
    return found


def test_guard_flags_each_forbidden_shape():
    bad = (
        "spark.createDataFrame([('a',)], 'x string')\n"
        "spark.createDataFrame((r for r in rows), schema)\n"
        "spark.createDataFrame([(k, v) for k, v in d.items()], schema)\n"
        "spark.sql(f'SELECT * FROM (VALUES {rows}) AS t(x)')\n"
    )
    assert len(driver_frame_violations(bad)) == 4
    ok = (
        "def local_frame(spark, rows, schema):\n"
        "    return spark.createDataFrame([], schema)\n"
        "spark.createDataFrame(pandas_df)\n"
        "spark.sql(f'SELECT count(*) FROM {name}')\n"
    )
    assert driver_frame_violations(ok) == []


def test_package_builds_driver_frames_only_through_local_frame():
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        found += driver_frame_violations(path.read_text(), str(path.relative_to(PACKAGE)))
    assert found == []


# --- local_frame ----------------------------------------------------------


def test_local_frame_nulls_in_nullable_columns(spark):
    df = local_frame(spark, [("a", None), (None, 2)], "x string, n bigint")
    assert [tuple(r) for r in df.collect()] == [("a", None), (None, 2)]


def test_local_frame_keeps_non_nullable_schema(spark):
    row = ("ds", 3, None, 7, 1.5, "run")
    df = local_frame(spark, [row], MANIFEST_SCHEMA)
    assert df.schema == MANIFEST_SCHEMA
    assert [tuple(r) for r in df.collect()] == [row]
    with pytest.raises(ValueError, match="dataset"):
        local_frame(spark, [(None, 3, None, None, 1.5, "run")], MANIFEST_SCHEMA)


def test_local_frame_apostrophes_and_non_ascii(spark):
    values = ["O'Brien", "''", "Polish_złoty", "日本語", "emoji 🙂"]
    df = local_frame(spark, [(v,) for v in values], "x string")
    assert [r["x"] for r in df.collect()] == values


def test_local_frame_zero_rows(spark):
    df = local_frame(spark, [], "node string, component string")
    assert df.count() == 0
    assert df.columns == ["node", "component"]


# --- backslashes the old VALUES builders mangled ----------------------------

BACKSLASHED = ["a\\b", "C:\\new\\table", "ends in \\", "\\t\\n"]


def test_values_df_keeps_backslashes(spark):
    from linkedspending_spark.serve import _values_df

    df = _values_df(spark, ["v"], [(v,) for v in BACKSLASHED] + [(None,)])
    assert [r["v"] for r in df.collect()] == BACKSLASHED + [None]


def test_metrics_event_keeps_backslashes(spark, tmp_path):
    from linkedspending_spark.sources.metrics import MetricsStore

    store = MetricsStore(spark, str(tmp_path / "metrics"))
    store.event("run", 1, "start", "input=C:\\data\\new")
    (row,) = store.read().collect()
    assert row["dataset"] == "input=C:\\data\\new"
    assert (row["key"], row["value"]) == ("start", 1.0)


def test_sparql_values_matches_backslashed_object(spark):
    from linkedspending_spark.sparql import select_text

    triples = local_frame(
        spark,
        [("http://x/s", "http://x/p", "a\\b", "d"), ("http://x/s", "http://x/p", "ab", "d")],
        "s string, p string, o string, dataset string",
    )
    got = select_text(triples, r'SELECT ?o { VALUES ?o { "a\\b" } ?s ?p ?o }').collect()
    assert [r["o"] for r in got] == ["a\\b"]


# --- plan shape -------------------------------------------------------------


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001


def test_driver_frames_plan_as_local_relations(spark, tmp_path):
    from linkedspending_spark.operators.canon import connected_components
    from linkedspending_spark.sources.dictionaries import currency_df

    edges = local_frame(spark, [("b", "a"), ("c", "b"), ("y", "x")], "src string, dst string")
    components = connected_components(edges)
    assert sorted(map(tuple, components.collect())) == [
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x"),
    ]
    for df in (
        components,
        ManifestStore(spark, str(tmp_path / "manifest")).read(),
        currency_df(spark),
    ):
        plan = _optimized_plan(df)
        assert "LocalRelation" in plan
        assert "LogicalRDD" not in plan and "ExternalRDD" not in plan
