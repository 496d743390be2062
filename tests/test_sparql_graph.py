"""SPARQL GRAPH clauses over dataset partitions.

The reference stores each dataset in the named graph
``<PREFIX_GRAPH><datasetName>`` (Virtuoso.java:25-49 createSubGraph:
``PropertyLoader.graph + datasetName``); this engine's triple table
carries the same partitioning as its ``dataset`` column (model.py
TRIPLE_SCHEMA_PARTITIONED), so GRAPH maps onto it: a constant graph URI
partition-prunes every scan in the group, a graph variable binds from
the column and keeps the whole group inside one graph.
"""

from __future__ import annotations

import pytest

from linkedspending_spark import model as M
from linkedspending_spark.sparql import (
    SparqlSyntaxError,
    parse_select,
    select_text,
)
from tools.plan_audit import plan_of

PRE = "PREFIX p: <p:> PREFIX u: <u:> "
B = M.PREFIX_GRAPH


@pytest.fixture(scope="module")
def graph(spark):
    rows = [
        ("u:a", "p:name", "Alice", "literal", None, None, "ds1"),
        ("u:b", "p:name", "Bob", "literal", None, None, "ds2"),
        ("u:a", "p:age", "30", "literal", None, None, "ds1"),
        ("u:a", "p:age", "31", "literal", None, None, "ds2"),
    ]
    return spark.createDataFrame(
        rows,
        "s string, p string, o string, o_kind string, "
        "o_datatype string, o_lang string, dataset string",
    )


def _run(graph, q, **kw):
    return sorted(
        tuple(r) for r in select_text(graph, PRE + q, **kw).collect()
    )


def test_constant_graph_scopes_group(graph):
    got = _run(graph, f"SELECT ?n {{ GRAPH <{B}ds1> {{ ?s p:name ?n }} }}")
    assert got == [("Alice",)]


def test_graph_var_binds_subgraph_uri(graph):
    got = _run(graph, "SELECT ?g ?n { GRAPH ?g { ?s p:name ?n } }")
    assert got == [(B + "ds1", "Alice"), (B + "ds2", "Bob")]


def test_graph_group_stays_in_one_graph(graph):
    """SPARQL: GRAPH ?g { A . B } requires A and B in the SAME graph —
    u:a has name+age co-located only in ds1; u:a's ds2 age does not
    pair with its ds1 name."""
    got = _run(graph, "SELECT ?s { GRAPH ?g { ?s p:name ?n . ?s p:age ?x } }")
    assert got == [("u:a",)]


def test_cross_graph_join_outside_graph(graph):
    got = _run(
        graph,
        f'SELECT ?s ?x {{ ?s p:name "Alice" GRAPH <{B}ds2> '
        "{ ?s p:age ?x } }",
    )
    assert got == [("u:a", "31")]


def test_absent_graph_is_empty(graph):
    assert _run(graph, f"SELECT ?n {{ GRAPH <{B}nope> {{ ?s p:name ?n }} }}") == []
    assert (
        _run(graph, "SELECT ?n { GRAPH <http://other/g> { ?s p:name ?n } }")
        == []
    )


def test_graph_only_query(graph):
    got = _run(graph, "SELECT ?g { GRAPH ?g { u:b p:name ?n } }")
    assert got == [(B + "ds2",)]


def test_graph_var_typed_uri_under_with_kinds(graph):
    df = select_text(
        graph,
        PRE + "SELECT ?g { GRAPH ?g { u:b p:name ?n } }",
        with_kinds=True,
    )
    rows = df.collect()
    assert rows[0]["g__kind"] == "uri" and rows[0]["g__datatype"] is None


def test_ask_over_graph(graph):
    assert _run(graph, f'ASK {{ GRAPH <{B}ds1> {{ u:a p:age "30" }} }}') == [()]
    assert _run(graph, f'ASK {{ GRAPH <{B}ds1> {{ u:a p:age "31" }} }}') == []


def test_sequence_path_inside_graph(graph):
    got = _run(
        graph,
        "SELECT ?n { GRAPH ?g { ?s p:age/^p:age ?s2 . ?s p:name ?n } }",
    )
    assert got == [("Alice",)]


def test_constant_graph_prunes_partitions(graph, tmp_path):
    """The dataset constraint from GRAPH <uri> reaches the parquet scan
    as a pushed filter — per-dataset graphs are why the partitioning
    exists (at scale: PartitionFilters on the bucket column too, via
    n_buckets)."""
    pq_dir = str(tmp_path / "g")
    graph.write.parquet(pq_dir)
    pq = graph.sparkSession.read.parquet(pq_dir)
    plan = plan_of(
        select_text(pq, PRE + f"SELECT ?n {{ GRAPH <{B}ds1> {{ ?s p:name ?n }} }}")
    )
    assert "PushedFilters" in plan and "ds1" in plan


def test_outer_dataset_scope_intersects(graph):
    """An outer dataset= scope and a disagreeing GRAPH clause name
    different graphs → empty (never widens the caller's scope)."""
    got = _run(
        graph,
        f"SELECT ?n {{ GRAPH <{B}ds1> {{ ?s p:name ?n }} }}",
        dataset="ds2",
    )
    assert got == []
    got = _run(
        graph,
        f"SELECT ?n {{ GRAPH <{B}ds1> {{ ?s p:name ?n }} }}",
        dataset="ds1",
    )
    assert got == [("Alice",)]


def test_kindless_table_refuses_graph_var(spark):
    t = spark.createDataFrame(
        [("a", "b", "c")], "s string, p string, o string"
    )
    with pytest.raises(ValueError, match="dataset"):
        select_text(t, "SELECT ?g { GRAPH ?g { ?s ?p ?o } }").collect()


def test_graph_parse_refusals():
    with pytest.raises(SparqlSyntaxError, match="GRAPH needs"):
        parse_select('SELECT ?s { GRAPH "lit" { ?s ?p ?o } }')
    # the two nested-algebra forms a GRAPH ?var scope cannot
    # distribute over: a quantified path's closure would have to run
    # per named graph, and a subquery's projection blocks the active-
    # graph substitution — both refuse by name
    with pytest.raises(SparqlSyntaxError, match="property path inside"):
        parse_select(
            "SELECT ?s { GRAPH ?g { ?s <p:a>+ ?o . ?s <p:b> ?x } }"
        )
    with pytest.raises(SparqlSyntaxError, match="subquery inside"):
        parse_select(
            "SELECT ?s { GRAPH ?g { ?s ?p ?o "
            "{ SELECT ?s { ?s ?q ?v } } } }"
        )
    # a pattern-free GRAPH ?var body is degenerate either way
    with pytest.raises(SparqlSyntaxError, match="at least one triple"):
        parse_select("SELECT ?s { GRAPH ?g { } }")


def test_graph_var_optional_same_graph(graph):
    """GRAPH ?g distributes over OPTIONAL: the optional match must
    come from the SAME graph (u:a's age is 30 in ds1 and 31 in ds2;
    its name is only in ds1 — a cross-graph OPTIONAL would yield both
    ages)."""
    got = _run(
        graph,
        "SELECT ?g ?n ?a { GRAPH ?g { ?s p:name ?n "
        "OPTIONAL { ?s p:age ?a } } }",
    )
    assert got == [
        (B + "ds1", "Alice", "30"),
        (B + "ds2", "Bob", None),  # u:b has no age anywhere
    ]


def test_graph_var_union(graph):
    got = _run(
        graph,
        "SELECT ?g ?x { GRAPH ?g { { ?s p:name ?x } UNION "
        "{ ?s p:age ?x } } }",
    )
    assert got == [
        (B + "ds1", "30"),
        (B + "ds1", "Alice"),
        (B + "ds2", "31"),
        (B + "ds2", "Bob"),
    ]


def test_graph_var_filter_and_bind(graph):
    got = _run(
        graph,
        "SELECT ?g ?a ?b { GRAPH ?g { ?s p:age ?a FILTER(?a > 30) "
        "BIND(strlen(?a) AS ?b) } }",
    )
    assert got == [(B + "ds2", "31", 2)]


def test_graph_var_minus_same_graph(graph):
    """MINUS inside GRAPH ?g removes only SAME-graph matches: u:a has
    a name in ds1 (its ds1 age solution is removed) but not in ds2
    (its ds2 age solution survives — a cross-graph MINUS would remove
    both)."""
    got = _run(
        graph,
        "SELECT ?g ?a { GRAPH ?g { ?s p:age ?a "
        "MINUS { ?s p:name ?n } } }",
    )
    assert got == [(B + "ds2", "31")]


def test_graph_var_exists_same_graph(graph):
    got = _run(
        graph,
        "SELECT ?g ?a { GRAPH ?g { ?s p:age ?a "
        "FILTER EXISTS { ?s p:name ?n } } }",
    )
    assert got == [(B + "ds1", "30")]
    got = _run(
        graph,
        "SELECT ?g ?a { GRAPH ?g { ?s p:age ?a "
        "FILTER NOT EXISTS { ?s p:name ?n } } }",
    )
    assert got == [(B + "ds2", "31")]


def test_graph_var_nested_constant_graph_overrides(graph):
    """An inner constant GRAPH switches the active graph — the outer
    ?g scope does not reach inside it."""
    got = _run(
        graph,
        f"SELECT ?g ?n ?a {{ GRAPH ?g {{ ?s p:name ?n "
        f"GRAPH <{B}ds2> {{ ?t p:age ?a }} }} }}",
    )
    assert got == [
        (B + "ds1", "Alice", "31"),
        (B + "ds2", "Bob", "31"),
    ]


def test_graph_var_nested_joins_outer(graph):
    """?g bound by a nested-algebra GRAPH group equi-joins the outer
    solutions (here: a second, pattern-only GRAPH ?g group)."""
    got = _run(
        graph,
        "SELECT ?g ?n ?a { GRAPH ?g { ?s p:name ?n "
        "OPTIONAL { ?s p:missing ?m } } GRAPH ?g { ?t p:age ?a } }",
    )
    assert got == [
        (B + "ds1", "Alice", "30"),
        (B + "ds2", "Bob", "31"),
    ]


def test_graph_var_nested_plan_shape(graph, tmp_path):
    """The distributed GRAPH ?var scope keeps nested bodies as
    pushed-down scan trees: predicate constants reach the parquet
    reader as PushedFilters and no Python evaluation appears — the
    rewrite costs O(body), never O(named graphs)."""
    pq_dir = str(tmp_path / "g")
    graph.sparkSession.createDataFrame(
        graph.collect(), graph.schema
    ).write.partitionBy("dataset").parquet(pq_dir)
    pq = graph.sparkSession.read.parquet(pq_dir)
    df = select_text(
        pq,
        PRE + "SELECT ?g ?n ?a { GRAPH ?g { ?s p:name ?n "
        "OPTIONAL { ?s p:age ?a } } }",
    )
    plan = plan_of(df)
    assert "PushedFilters" in plan and "p:name" in plan
    assert "BatchEvalPython" not in plan
    got = sorted(tuple(r) for r in df.collect())
    assert got == [
        (B + "ds1", "Alice", "30"),
        (B + "ds2", "Bob", None),
    ]


def test_graph_var_nested_from_named_range(graph):
    """FROM NAMED restricts the graphs a nested GRAPH ?var ranges
    over (SPARQL 13.2), reaching every wrapped scan."""
    got = _run(
        graph,
        f"SELECT ?g ?n FROM NAMED <{B}ds2> "
        "{ GRAPH ?g { ?s p:name ?n OPTIONAL { ?s p:age ?a } } }",
    )
    assert got == [(B + "ds2", "Bob")]


def test_graph_var_minus_disjoint_domain(graph):
    """A MINUS body sharing no variable with its base removes nothing
    (§8.3.3), inside GRAPH ?g too: the active graph is not a variable
    of the body, so it never makes the domains intersect. The FILTER
    NOT EXISTS twin is the contrast — its body is tested inside the
    active graph, so the graph is its only key."""
    minus = (
        "SELECT ?g ?s ?age { GRAPH ?g { ?s p:age ?age "
        "MINUS { ?x p:name ?n } } }"
    )
    not_exists = (
        "SELECT ?g ?s ?age { GRAPH ?g { ?s p:age ?age "
        "FILTER NOT EXISTS { ?x p:name ?n } } }"
    )
    assert _run(graph, minus) == [
        (B + "ds1", "u:a", "30"),
        (B + "ds2", "u:a", "31"),
    ]
    assert _run(graph, not_exists) == []  # every graph has a name
    # a third graph holding an age and no name
    more = graph.unionByName(
        graph.sparkSession.createDataFrame(
            [("u:c", "p:age", "40", "literal", None, None, "ds3")],
            graph.schema,
        )
    )
    assert _run(more, minus) == [
        (B + "ds1", "u:a", "30"),
        (B + "ds2", "u:a", "31"),
        (B + "ds3", "u:c", "40"),
    ]
    assert _run(more, not_exists) == [(B + "ds3", "u:c", "40")]


def test_graph_var_body_without_scan(graph):
    """A GRAPH ?g body that reads no graph (here only VALUES) holds in
    every named graph: Graph(?g, P) = ⋃_G Join(eval(P, G), {?g → G})."""
    got = _run(graph, 'SELECT ?g ?x { GRAPH ?g { VALUES ?x { "k" } } }')
    assert got == [(B + "ds1", "k"), (B + "ds2", "k")]
