"""Nested group graph patterns (SPARQL 1.1 §5.2): OPTIONAL / UNION
bodies carrying their own algebra — nested OPTIONAL, UNION, FILTER,
BIND, VALUES, MINUS, property paths, subqueries.

The parser re-enters the full group-body grammar through a child
parser on the shared lexer (``_child_body``); every body is itself a
group, evaluated bottom-up by the one recursive evaluator
(``serve.eval_group``) and joined to the outer solution — a LEFT join
for OPTIONAL, union-by-name + inner join for UNION branches.
Pattern-only bodies are one BGP join tree, the flat plan shape.

The reference's Jena endpoint accepts all of these verbatim
(Sparql.java:21-29 passes query text through to ARQ)."""

from __future__ import annotations

import pytest

from linkedspending_spark.sparql import (
    SparqlSyntaxError,
    parse_select,
    select_text,
)


@pytest.fixture(scope="module")
def people(spark):
    """Person → optional address → optional city/zip, plus phones."""
    from pyspark.sql import functions as F

    rows = [
        ("p1", "http://x/name", "Ada"),
        ("p1", "http://x/addr", "a1"),
        ("a1", "http://x/city", "Berlin"),
        ("a1", "http://x/zip", "10115"),
        ("p2", "http://x/name", "Bob"),
        ("p2", "http://x/addr", "a2"),
        ("a2", "http://x/city", "Paris"),
        ("p3", "http://x/name", "Eve"),
        ("p1", "http://x/phone", "111"),
        ("p1", "http://x/phone", "222"),
        ("p2", "http://x/fax", "333"),
    ]
    return (
        spark.createDataFrame(rows, "s string, p string, o string")
        .withColumn("dataset", F.lit("d"))
    )


def _run(t, q):
    return sorted(
        (tuple(r) for r in select_text(t, q).collect()), key=str
    )


NAME = "?p <http://x/name> ?n"


def test_nested_optional_chain(people):
    """OPTIONAL inside OPTIONAL: city binds without zip (Bob), neither
    binds (Eve), both bind (Ada) — NULL-extension at each level."""
    q = f"""select ?n ?c ?z {{ {NAME}
      OPTIONAL {{ ?p <http://x/addr> ?a . ?a <http://x/city> ?c
        OPTIONAL {{ ?a <http://x/zip> ?z }} }} }}"""
    assert _run(people, q) == [
        ("Ada", "Berlin", "10115"),
        ("Bob", "Paris", None),
        ("Eve", None, None),
    ]


def test_union_inside_optional(people):
    """A UNION inside an OPTIONAL body: contact = phone or fax; Ada's
    two phones keep multiplicity, Eve NULL-extends."""
    q = f"""select ?n ?t {{ {NAME}
      OPTIONAL {{ {{ ?p <http://x/phone> ?t }} UNION
                  {{ ?p <http://x/fax> ?t }} }} }}"""
    assert _run(people, q) == [
        ("Ada", "111"),
        ("Ada", "222"),
        ("Bob", "333"),
        ("Eve", None),
    ]


def test_optional_inside_union_branch(people):
    """OPTIONAL inside a UNION branch: the branch NULL-extends its own
    solutions; the other branch never sees the optional variable."""
    q = """select ?n ?c {
      { ?p <http://x/name> ?n
        OPTIONAL { ?p <http://x/addr> ?a . ?a <http://x/city> ?c } }
      UNION { ?x <http://x/zip> ?n } }"""
    assert _run(people, q) == [
        ("10115", None),
        ("Ada", "Berlin"),
        ("Bob", "Paris"),
        ("Eve", None),
    ]


def test_branch_scoped_filter(people):
    """A FILTER inside a UNION branch scopes to that branch only."""
    q = """select ?n {
      { ?p <http://x/name> ?n filter(strstarts(?n, "A")) }
      UNION { ?p <http://x/fax> ?n } }"""
    assert _run(people, q) == [("333",), ("Ada",)]


def test_nested_body_filter_is_leftjoin_condition(people):
    """The semantic-difference fixture: a top-level FILTER in an
    OPTIONAL body whose algebra is nested still acts as the LeftJoin
    CONDITION — Bob's Paris fails it and Bob is KEPT NULL-extended
    (a solution-level post-filter would drop Bob entirely)."""
    q = f"""select ?n ?c {{ {NAME}
      OPTIONAL {{ ?p <http://x/addr> ?a . ?a <http://x/city> ?c
        FILTER(strstarts(?c, "B"))
        OPTIONAL {{ ?a <http://x/zip> ?z }} }} }}"""
    assert _run(people, q) == [
        ("Ada", "Berlin"),
        ("Bob", None),
        ("Eve", None),
    ]


def test_nested_body_filter_on_outer_variable(people):
    """A body filter referencing an OUTER variable joins the ON
    condition: for names not starting 'A' the body never matches, the
    solution is kept NULL-extended."""
    q = f"""select ?n ?c {{ {NAME}
      OPTIONAL {{ ?p <http://x/addr> ?a . ?a <http://x/city> ?c
        FILTER(strstarts(?n, "A"))
        OPTIONAL {{ ?a <http://x/zip> ?z }} }} }}"""
    assert _run(people, q) == [
        ("Ada", "Berlin"),
        ("Bob", None),
        ("Eve", None),
    ]


def test_bind_and_values_inside_optional(people):
    """BIND and VALUES are group forms too — usable inside a body."""
    q = f"""select ?n ?u {{ {NAME}
      OPTIONAL {{ ?p <http://x/addr> ?a . ?a <http://x/city> ?c
                  BIND(ucase(?c) AS ?u) }} }}"""
    assert _run(people, q) == [
        ("Ada", "BERLIN"),
        ("Bob", "PARIS"),
        ("Eve", None),
    ]
    q = f"""select ?n ?c {{ {NAME}
      OPTIONAL {{ ?p <http://x/addr> ?a . ?a <http://x/city> ?c
                  VALUES ?c {{ "Berlin" }} }} }}"""
    assert _run(people, q) == [
        ("Ada", "Berlin"),
        ("Bob", None),
        ("Eve", None),
    ]


def test_minus_inside_optional(people):
    """MINUS inside an OPTIONAL body removes inside the body; removed
    matches NULL-extend the outer solution instead of dropping it."""
    q = f"""select ?n ?c {{ {NAME}
      OPTIONAL {{ ?p <http://x/addr> ?a . ?a <http://x/city> ?c
        OPTIONAL {{ ?a <http://x/zip> ?z }}
        MINUS {{ ?a <http://x/zip> "10115" }} }} }}"""
    assert _run(people, q) == [
        ("Ada", None),
        ("Bob", "Paris"),
        ("Eve", None),
    ]


def test_subquery_inside_optional(people):
    """A { SELECT ... } subquery inside an OPTIONAL body."""
    q = f"""select ?n ?c {{ {NAME}
      OPTIONAL {{ ?p <http://x/addr> ?a
        {{ select ?a ?c {{ ?a <http://x/city> ?c
                           filter(strstarts(?c, "B")) }} }} }} }}"""
    assert _run(people, q) == [
        ("Ada", "Berlin"),
        ("Bob", None),
        ("Eve", None),
    ]


def test_multiplicity_through_nested_optional(people):
    """Two phone matches inside a nested body duplicate the outer
    solution — SPARQL LeftJoin multiplicity."""
    q = f"""select ?n ?t {{ {NAME}
      OPTIONAL {{ ?p <http://x/phone> ?t
                  OPTIONAL {{ ?p <http://x/fax> ?f }} }} }}"""
    got = _run(people, q)
    assert got.count(("Ada", "111")) == 1 and got.count(("Ada", "222")) == 1


def test_kind_builtins_inside_nested_body(spark):
    """needs_kinds propagates from a child body: LANG() in a nested
    OPTIONAL threads the companions through the inner evaluation."""
    from pyspark.sql import functions as F

    rows = [
        ("s1", "http://x/label", "hallo", "literal", None, "de"),
        ("s1", "http://x/alt", "hello", "literal", None, "en"),
        ("s2", "http://x/label", "plain", "literal", None, None),
    ]
    t = spark.createDataFrame(
        rows,
        "s string, p string, o string, o_kind string, "
        "o_datatype string, o_lang string",
    ).withColumn("dataset", F.lit("d"))
    q = """select ?l ?a { ?s <http://x/label> ?l
      OPTIONAL { ?s <http://x/alt> ?a filter(lang(?a) = "en")
                 OPTIONAL { ?s <http://x/alt> ?b } } }"""
    assert _run(t, q) == [("hallo", "hello"), ("plain", None)]
    assert parse_select(q).needs_kinds


def test_refusals(people):
    """The compatibility-join refusals stay loud through nested paths:
    joining on a variable the body binds only conditionally; SERVICE
    anywhere; empty UNION branches."""
    with pytest.raises(ValueError, match="possibly-unbound"):
        select_text(
            people,
            """select ?n { ?p <http://x/name> ?n . ?q <http://x/zip> ?z
              OPTIONAL { ?p <http://x/addr> ?a
                OPTIONAL { ?a <http://x/zip> ?z } } }""",
        ).collect()
    with pytest.raises(SparqlSyntaxError, match="SERVICE"):
        parse_select(
            """select ?n { ?p <http://x/name> ?n OPTIONAL {
              ?p <http://x/addr> ?a
              SERVICE <http://ep> { ?a ?b ?c } } }"""
        )
    with pytest.raises(SparqlSyntaxError, match="no triple"):
        parse_select("select ?n { { ?p <http://x/name> ?n } UNION { } }")


def test_flat_bodies_keep_flat_plans(people):
    """A pattern-only OPTIONAL or UNION body parses to a group holding
    only patterns, which evaluates as one BGP join tree — the
    plan-shape contract."""
    pq = parse_select(
        f"select ?n ?a {{ {NAME} OPTIONAL {{ ?p <http://x/addr> ?a }} }}"
    )
    assert [k for k, _ in pq.groups] == ["optional"]
    assert pq.groups[0][1].patterns and not pq.groups[0][1].groups
    pq = parse_select(
        f"select ?n {{ {{ {NAME} }} UNION {{ ?p <http://x/fax> ?n }} }}"
    )
    assert [k for k, _ in pq.groups] == ["union"]
    assert all(b.patterns and not b.groups for b in pq.groups[0][1])


@pytest.fixture(scope="module")
def tagged(spark):
    """Two named graphs (dataset partitions) with per-graph tags."""
    rows = [
        ("p1", "n", "Ada", "g1"),
        ("p1", "tag", "x", "g1"),
        ("p2", "n", "Bob", "g1"),
        ("p2", "tag", "y", "g2"),
        ("p3", "n", "Eve", "g1"),
        ("p1", "alt", "A.", "g1"),
    ]
    return spark.createDataFrame(
        rows, "s string, p string, o string, dataset string"
    )


def test_nested_minus_body(tagged):
    """MINUS with its own FILTER: the filter scopes to the MINUS body
    (only x-tagged subjects are removed)."""
    q = """select ?n { ?p <n> ?n
      MINUS { ?p <tag> ?t filter(?t = "x") } }"""
    got = sorted(r["n"] for r in select_text(tagged, q).collect())
    assert got == ["Bob", "Eve"]


def test_nested_exists_body(tagged):
    """FILTER [NOT] EXISTS bodies take nested algebra; the inner
    OPTIONAL does not change which outer solutions pass."""
    q = """select ?n { ?p <n> ?n
      FILTER EXISTS { ?p <tag> ?t OPTIONAL { ?p <alt> ?a } } }"""
    got = sorted(r["n"] for r in select_text(tagged, q).collect())
    assert got == ["Ada", "Bob"]
    q = """select ?n { ?p <n> ?n
      FILTER NOT EXISTS { ?p <tag> ?t filter(?t = "x") } }"""
    got = sorted(r["n"] for r in select_text(tagged, q).collect())
    assert got == ["Bob", "Eve"]


def test_nested_graph_body(tagged):
    """A constant GRAPH with nested algebra scopes its WHOLE body to
    the named partition — here inside an OPTIONAL: only g2's tag
    binds, everything else NULL-extends."""
    from linkedspending_spark import model as M

    q = f"""select ?n ?t {{ ?p <n> ?n
      OPTIONAL {{ GRAPH <{M.PREFIX_GRAPH}g2> {{ ?p <tag> ?t
        OPTIONAL {{ ?p <alt> ?a }} }} }} }}"""
    got = sorted(
        (tuple(r) for r in select_text(tagged, q).collect()), key=str
    )
    assert got == [("Ada", None), ("Bob", "y"), ("Eve", None)]
    # an unknown graph URI is an EMPTY graph, never an error
    q = """select ?n ?t { ?p <n> ?n
      OPTIONAL { GRAPH <http://no/such> { ?p <tag> ?t
        filter(?t != "") } } }"""
    got = sorted(
        (tuple(r) for r in select_text(tagged, q).collect()), key=str
    )
    assert got == [("Ada", None), ("Bob", None), ("Eve", None)]


def test_nested_graph_var_distributes(tagged):
    """GRAPH ?g + nested algebra: the scope distributes over the body
    (every pattern context binds ?g from its scan, the shared join
    variable keeps the group in ONE graph) — p1's tag x and alt A.
    are both in g1, p2's tag y is in g2 where no alt exists."""
    from linkedspending_spark import model as M

    got = sorted(
        tuple(r)
        for r in select_text(
            tagged,
            "select ?g ?t ?a { GRAPH ?g { ?s <tag> ?t "
            "OPTIONAL { ?s <alt> ?a } } }",
        ).collect()
    )
    G = M.PREFIX_GRAPH
    assert got == [(G + "g1", "x", "A."), (G + "g2", "y", None)]


def test_nested_body_scans_push_down(people, tmp_path):
    """Nested bodies stay pushed-down scan trees: the inner OPTIONAL's
    predicate constants reach the parquet reader as PushedFilters, and
    no BatchEvalPython appears anywhere in the plan."""
    from tools.plan_audit import plan_of

    pq_dir = str(tmp_path / "people")
    people.write.parquet(pq_dir)
    pq = people.sparkSession.read.parquet(pq_dir)
    q = f"""select ?n ?c ?z {{ {NAME}
      OPTIONAL {{ ?p <http://x/addr> ?a . ?a <http://x/city> ?c
        OPTIONAL {{ ?a <http://x/zip> ?z }} }} }}"""
    plan = plan_of(select_text(pq, q))
    assert "PushedFilters" in plan
    assert "http://x/zip" in plan and "http://x/city" in plan
    assert "BatchEvalPython" not in plan
