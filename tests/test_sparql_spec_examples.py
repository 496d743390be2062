"""SPARQL 1.1 spec-example conformance battery.

Queries shaped like the W3C SPARQL 1.1 Query Recommendation's own
examples (sections cited per test), run through ``select_text`` over
small triple tables in the engine's shape. The point is dialect
FIDELITY on the semantics the spec calls out explicitly — including
the traps (MINUS vs NOT EXISTS on disjoint domains §8.3.3, zero-length
paths §9.3, OPTIONAL filter scope §6.1, aggregate projection
restrictions §11.4).

Reference parity: the reference's own queries (Sparql.java:40-53,
LinkedSpendingDatasetInfo.java:62-83) are covered verbatim in
test_sparql.py; this file covers the wider dialect a user of its
/sparql endpoint (Rest.java:86-91) writes.
"""

from __future__ import annotations

import pytest

from linkedspending_spark.sparql import (
    SparqlSyntaxError,
    select_text,
)

PRE = (
    "PREFIX foaf: <http://xmlns.com/foaf/0.1/> "
    "PREFIX dc: <http://purl.org/dc/elements/1.1/> "
    "PREFIX ns: <http://example.org/ns#> "
    "PREFIX : <http://example/> "
)


@pytest.fixture(scope="module")
def foaf(spark):
    """The spec's recurring FOAF-ish dataset: people, names, mboxes,
    knows edges."""
    F = "http://xmlns.com/foaf/0.1/"
    E = "http://example/"
    rows = [
        (E + "alice", F + "name", "Alice"),
        (E + "alice", F + "mbox", "mailto:alice@example.com"),
        (E + "alice", F + "knows", E + "bob"),
        (E + "alice", F + "knows", E + "carol"),
        (E + "bob", F + "name", "Bob"),
        (E + "bob", F + "knows", E + "carol"),
        (E + "carol", F + "name", "Carol"),
        (E + "dave", F + "mbox", "mailto:dave@example.com"),
    ]
    return spark.createDataFrame(
        [(*r, "g") for r in rows],
        "s string, p string, o string, dataset string",
    )


@pytest.fixture(scope="module")
def books(spark):
    """§6/§7's book data: dc10/dc11 titles, prices."""
    D = "http://purl.org/dc/elements/1.1/"
    D10 = "http://purl.org/dc/elements/1.0/"
    E = "http://example/"
    rows = [
        (E + "book1", D + "title", "SPARQL Tutorial"),
        (E + "book1", E + "price", "42"),
        (E + "book1", E + "discount", "0.2"),
        (E + "book2", D10 + "title", "The Semantic Web"),
        (E + "book2", E + "price", "23"),
        (E + "book2", E + "discount", "0.25"),
        (E + "book3", D + "title", "Advanced SPARQL"),
    ]
    return spark.createDataFrame(
        [(*r, "g") for r in rows],
        "s string, p string, o string, dataset string",
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_basic_bgp_and_join(foaf):
    """§2.1/§2.3: a two-pattern BGP joins on the shared subject."""
    got = _rows(select_text(
        foaf,
        PRE + "SELECT ?name ?mbox { ?x foaf:name ?name . "
        "?x foaf:mbox ?mbox }",
    ))
    assert got == [("Alice", "mailto:alice@example.com")]


def test_optional_null_extension(foaf):
    """§6.1: OPTIONAL keeps solutions without a match, NULL-extended
    (dave has a mbox but no name and is absent; carol/bob lack mboxes
    and survive unbound)."""
    got = _rows(select_text(
        foaf,
        PRE + "SELECT ?name ?mbox { ?x foaf:name ?name "
        "OPTIONAL { ?x foaf:mbox ?mbox } }",
    ))
    assert got == [
        ("Alice", "mailto:alice@example.com"),
        ("Bob", None),
        ("Carol", None),
    ]


def test_optional_with_filter_inside(books):
    """§6.3: a FILTER inside an OPTIONAL is part of the LeftJoin
    condition — book1 (price 42 ≥ 30) keeps its row NULL-extended
    instead of being dropped."""
    got = _rows(select_text(
        books,
        PRE + "SELECT ?title ?price { ?x dc:title ?title "
        "OPTIONAL { ?x <http://example/price> ?price "
        "FILTER(?price < 30) } }",
    ))
    assert got == [("Advanced SPARQL", None), ("SPARQL Tutorial", None)]


def test_union_dc10_dc11(books):
    """§7: UNION across vocabulary versions."""
    got = _rows(select_text(
        books,
        PRE + "SELECT ?title { "
        "{ ?b <http://purl.org/dc/elements/1.0/title> ?title } UNION "
        "{ ?b <http://purl.org/dc/elements/1.1/title> ?title } }",
    ))
    assert got == [
        ("Advanced SPARQL",), ("SPARQL Tutorial",), ("The Semantic Web",)
    ]


def test_minus_vs_not_exists_disjoint_domains(foaf):
    """§8.3.3 — the spec's own trap: with DISJOINT variable domains,
    MINUS removes NOTHING (no shared variable → incompatible with
    nothing) while FILTER NOT EXISTS removes EVERYTHING (the body
    matches somewhere)."""
    base = PRE + "SELECT ?s { ?s foaf:name ?n %s }"
    minus = _rows(select_text(foaf, base % "MINUS { ?x foaf:mbox ?m }"))
    assert len(minus) == 3  # all survive
    nexists = _rows(select_text(
        foaf, base % "FILTER NOT EXISTS { ?x foaf:mbox ?m }"
    ))
    assert nexists == []  # none survive


def test_minus_shared_variable(foaf):
    """§8.3.2: MINUS with a shared variable removes the compatible
    solutions (people WITH mboxes drop)."""
    got = _rows(select_text(
        foaf,
        PRE + "SELECT ?s { ?s foaf:name ?n "
        "MINUS { ?s foaf:mbox ?m } }",
    ))
    assert got == [
        ("http://example/bob",), ("http://example/carol",)
    ]


def test_bind_and_filter(books):
    """§10.1's price computation: BIND an expression, FILTER over the
    bound variable. Documented divergence from the spec example: the
    engine types by LEXICAL FORM under SQL coercion, so the literal
    must be written ``1.0`` (double context) — a bare ``1`` puts the
    subtraction in integer context, where the fractional lexical form
    is an expression error for its row."""
    got = _rows(select_text(
        books,
        PRE + "SELECT ?x ?price { ?x <http://example/price> ?p . "
        "?x <http://example/discount> ?discount . "
        "BIND(?p * (1.0 - ?discount) AS ?price) FILTER(?price < 20) }",
    ))
    assert got == [("http://example/book2", 17.25)]


def test_values_inline_data(books):
    """§10.2: VALUES restricts solutions to the inline data."""
    got = _rows(select_text(
        books,
        PRE + 'SELECT ?title { ?b dc:title ?title } '
        'VALUES ?title { "SPARQL Tutorial" "No Such Book" }',
    ))
    assert got == [("SPARQL Tutorial",)]


def test_aggregates_group_having(books):
    """§11.1-style totals with GROUP BY and HAVING."""
    got = _rows(select_text(
        books,
        PRE + "SELECT ?b (sum(?p) as ?total) "
        "{ ?b <http://example/price> ?p } group by ?b "
        "having(sum(?p) > 30)",
    ))
    assert got == [("http://example/book1", 42)]


def test_aggregate_projection_restriction(books):
    """§11.4: projecting a variable that is neither grouped nor
    aggregated is an error."""
    with pytest.raises(SparqlSyntaxError, match="grouped nor aggregated"):
        select_text(
            books,
            PRE + "SELECT ?b ?p (count(?p) as ?n) "
            "{ ?b <http://example/price> ?p } group by ?b",
        )


def test_subquery_join(foaf):
    """§12's shape: an inner SELECT evaluates first, the outer query
    joins its projected solutions."""
    got = _rows(select_text(
        foaf,
        PRE + "SELECT ?y ?name { :alice foaf:knows ?y . "
        "{ SELECT ?y ?name { ?y foaf:name ?name } } }",
    ))
    assert got == [
        ("http://example/bob", "Bob"),
        ("http://example/carol", "Carol"),
    ]


def test_path_sequence_and_plus(foaf):
    """§9.2: foaf:knows/foaf:name (names of known people) and
    foaf:knows+ (transitive)."""
    got = _rows(select_text(
        foaf,
        PRE + "SELECT ?n { :alice foaf:knows/foaf:name ?n }",
    ))
    assert got == [("Bob",), ("Carol",)]
    got = _rows(select_text(
        foaf,
        PRE + "SELECT ?x { :bob foaf:knows+ ?x }",
    ))
    assert got == [("http://example/carol",)]


def test_path_zero_length(foaf):
    """§9.3: p* includes the zero-length path — the start node pairs
    with itself even without an edge."""
    got = _rows(select_text(
        foaf,
        PRE + "SELECT ?x { :carol foaf:knows* ?x }",
    ))
    assert got == [("http://example/carol",)]  # no outgoing knows


def test_path_inverse(foaf):
    """§9.2: ^foaf:knows — who knows carol."""
    got = _rows(select_text(
        foaf,
        PRE + "SELECT ?x { :carol ^foaf:knows ?x }",
    ))
    assert got == [
        ("http://example/alice",), ("http://example/bob",)
    ]


def test_ask_and_limits(foaf):
    """§16.3 ASK; §15.4-15.5 ORDER BY + LIMIT/OFFSET paging."""
    assert select_text(
        foaf, PRE + "ASK { :alice foaf:knows :bob }"
    ).count() == 1
    assert select_text(
        foaf, PRE + "ASK { :carol foaf:knows :bob }"
    ).count() == 0
    page = select_text(
        foaf,
        PRE + "SELECT ?n { ?x foaf:name ?n } "
        "ORDER BY ?n LIMIT 2 OFFSET 1",
    ).collect()
    assert [r["n"] for r in page] == ["Bob", "Carol"]


def test_construct_template(foaf):
    """§16.2: CONSTRUCT instantiates a template graph from the
    solutions (vcard-style rename)."""
    got = select_text(
        foaf,
        PRE + "CONSTRUCT { ?x <http://example/fullName> ?name } "
        "WHERE { ?x foaf:name ?name }",
    )
    assert sorted((r["s"], r["p"], r["o"]) for r in got.collect()) == [
        ("http://example/alice", "http://example/fullName", "Alice"),
        ("http://example/bob", "http://example/fullName", "Bob"),
        ("http://example/carol", "http://example/fullName", "Carol"),
    ]
