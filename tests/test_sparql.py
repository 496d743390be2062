"""SPARQL text parser → serve algebra (Sparql.java:21-29 analog).

The reference's own query strings (Sparql.java:44,
LinkedSpendingDatasetInfo.java:62-83) must run verbatim through
``select_text``; the parse must compile onto exactly the algebra
``serve.eval_group`` evaluates."""

from __future__ import annotations

import pytest

from linkedspending_spark import model as M
from linkedspending_spark.sparql import (
    SparqlSyntaxError,
    parse_select,
    select_text,
)
from tools.plan_audit import plan_of


@pytest.fixture(scope="module")
def catalog(spark):
    """Catalog-shaped triple table mirroring the reference's dataset
    metadata graph (the shape its SPARQL queries read)."""
    I, O = M.PREFIX_INSTANCE, M.PREFIX_ONTOLOGY
    D = M.NS_DCT
    rows = []
    for i, (name, created, modified, complete) in enumerate(
        [
            ("alpha", "2023-01-01", "2024-01-01", "true"),
            ("beta", "2023-06-01", "2024-06-01", "true"),
            ("gamma", "2023-09-01", "2024-09-01", "false"),
        ]
    ):
        d = I + name
        rows += [
            (d, M.RDF_TYPE, M.QB_DATASET),
            (d, D + "identifier", name),
            (d, D + "created", created + "T00:00:00Z"),
            (d, D + "modified", modified + "T00:00:00Z"),
            (d, O + "sourceCreated", created + "T00:00:00Z"),
            (d, O + "sourceModified", modified + "T00:00:00Z"),
            (d, O + "transformationVersion", str(i + 3)),
            (d, O + "uploadComplete", complete),
        ]
    rows.append((I + "beta", M.RDFS_LABEL, "Beta dataset"))
    return spark.createDataFrame(
        [(*r, "cat") for r in rows], "s string, p string, o string, dataset string"
    )


def test_sparql_java_44_verbatim(spark, catalog):
    """Sparql.java:44's query string, character-for-character (full
    dcterms URIs inline, prefixed qb:DataSet, no WHERE keyword)."""
    q = (
        "select ?d ?m {?d a qb:DataSet. ?d <http://purl.org/dc/terms/"
        "modified> ?m. ?d <http://purl.org/dc/terms/created> ?c.}"
    )
    got = sorted(map(tuple, select_text(catalog, q).collect()))
    I = M.PREFIX_INSTANCE
    assert got == [
        (I + "alpha", "2024-01-01T00:00:00Z"),
        (I + "beta", "2024-06-01T00:00:00Z"),
        (I + "gamma", "2024-09-01T00:00:00Z"),
    ]


def test_dataset_info_query_verbatim(spark, catalog):
    """LinkedSpendingDatasetInfo.java:62-63's selectPrefixed body —
    the typed literal gate ("true"^^xsd:boolean) matches on lexical
    form, exactly the predicate the reference uses to hide unfinished
    uploads."""
    q = (
        "select ?name ?c ?m ?sc ?sm ?tv {?d a qb:DataSet. "
        "?d dcterms:identifier ?name. ?d dcterms:created ?c. "
        "?d dcterms:modified ?m."
        "?d lso:sourceCreated ?sc. ?d lso:sourceModified ?sm. "
        "?d lso:transformationVersion ?tv. "
        '?d lso:uploadComplete "true"^^xsd:boolean.}'
    )
    got = {r["name"]: r.asDict() for r in select_text(catalog, q).collect()}
    assert set(got) == {"alpha", "beta"}  # gamma: uploadComplete=false
    assert got["alpha"]["tv"] == "3" and got["beta"]["tv"] == "4"
    assert got["beta"]["sc"] == "2023-06-01T00:00:00Z"


def test_text_matches_programmatic_algebra(spark, catalog):
    """OPTIONAL + FILTER + UNION + DISTINCT/ORDER BY/LIMIT text equals
    the same group's raw solutions with the modifiers applied by hand."""
    text = """
    SELECT DISTINCT ?d ?when WHERE {
      ?d a qb:DataSet .
      OPTIONAL { ?d rdfs:label ?l }
      { ?d dcterms:created ?when } UNION { ?d dcterms:modified ?when }
      FILTER(?when >= "2023-06" && ?d != ls:gamma)
    } ORDER BY DESC(?when) LIMIT 3
    """
    got = [tuple(r) for r in select_text(catalog, text).collect()]
    prog = select_text(
        catalog,
        f"""SELECT * {{
          ?d <{M.RDF_TYPE}> <{M.QB_DATASET}>
          OPTIONAL {{ ?d <{M.RDFS_LABEL}> ?l }}
          {{ ?d <{M.NS_DCT}created> ?when }}
          UNION {{ ?d <{M.NS_DCT}modified> ?when }}
          FILTER(?when >= '2023-06' && ?d != <{M.PREFIX_INSTANCE}gamma>)
        }}""",
    ).select("d", "when").dropDuplicates()
    expected = sorted(
        map(tuple, prog.collect()), key=lambda t: t[1], reverse=True
    )[:3]
    assert got == expected and len(got) == 3


def test_distinct_applies_after_projection(spark, catalog):
    """SELECT DISTINCT dedups the *projected* variables: projecting ?d
    away from its per-date solutions collapses to one row per dataset
    (a dedup over the whole solution before projection would be a
    different query)."""
    text = (
        "select distinct ?d { { ?d dcterms:created ?x } "
        "UNION { ?d dcterms:modified ?x } }"
    )
    assert select_text(catalog, text).count() == 3


def test_order_by_limit_plans_topk(spark, catalog):
    q = select_text(
        catalog,
        "select ?d ?m {?d dcterms:modified ?m} order by desc(?m) limit 2",
    )
    assert [r["m"][:4] for r in q.collect()] == ["2024", "2024"]
    assert "TakeOrderedAndProject" in plan_of(q)


def test_predicate_object_lists_and_comments(spark, catalog):
    text = """
    # predicate-object list over one subject
    select ?name ?m {
      ?d dcterms:identifier ?name ; dcterms:modified ?m .
    }
    """
    assert select_text(catalog, text).count() == 3


def test_limit_cap_guards_serving_path(spark, catalog):
    q = "select ?s ?p ?o {?s ?p ?o} limit 1000"
    assert select_text(catalog, q, limit_cap=5).count() == 5
    # cap applies even with no LIMIT in the query
    assert select_text(catalog, "select ?s {?s ?p ?o}", limit_cap=4).count() == 4


def test_parse_errors():
    with pytest.raises(SparqlSyntaxError, match="DESCRIBE needs"):
        parse_select("describe where { ?s ?p ?o }")
    with pytest.raises(SparqlSyntaxError, match="WHERE group binding"):
        parse_select("describe ?x")
    with pytest.raises(SparqlSyntaxError, match="not supported"):
        parse_select("select ?x { service <http://ep> { ?x ?p ?o } }")
    with pytest.raises(SparqlSyntaxError, match="unknown prefix"):
        parse_select("select ?x { ?x nope:y ?z }")
    with pytest.raises(SparqlSyntaxError, match="bare word"):
        parse_select("select ?x { ?x ?p true }")
    # FILTER inside OPTIONAL is supported, but a pattern-free OPTIONAL
    # (just a filter) is degenerate and refused
    with pytest.raises(SparqlSyntaxError, match="at least one triple"):
        parse_select("select ?x { optional { filter(?x > 1) } }")
    # nested OPTIONAL parses into a nested-algebra group (evaluated
    # bottom-up; semantics pinned in tests/test_sparql_nested.py)
    pq = parse_select(
        "select ?x { ?x ?p ?y optional { ?x ?p ?o optional { ?x ?q ?z } } }"
    )
    assert [k for k, _ in pq.groups] == ["optional"]
    assert [k for k, _ in pq.groups[0][1].groups] == ["optional"]
    with pytest.raises(SparqlSyntaxError, match="UNION"):
        parse_select("select ?x { { ?x ?p ?o } }")  # lone braced group
    with pytest.raises(SparqlSyntaxError, match="trailing"):
        parse_select("select ?x { ?x ?p ?o } offset 5 offset 6")
    with pytest.raises(SparqlSyntaxError, match="OFFSET needs"):
        parse_select("select ?x { ?x ?p ?o } offset -1")


def test_execution_errors(spark, catalog):
    with pytest.raises(SparqlSyntaxError, match="bound by no pattern"):
        select_text(catalog, "select ?nope { ?d a qb:DataSet }")
    with pytest.raises(SparqlSyntaxError, match="must be projected"):
        select_text(
            catalog,
            "select distinct ?d { ?d dcterms:modified ?m } order by ?m",
        )


def test_prefix_declaration_overrides_default(spark, catalog):
    text = (
        'PREFIX dcterms: <http://example.org/other/> '
        "select ?d { ?d dcterms:modified ?m }"
    )
    # redeclared prefix points elsewhere -> no matches in the fixture
    assert select_text(catalog, text).count() == 0


# --- property test: rendered algebra → text → parse round-trips ---------

from hypothesis import given, settings, strategies as st

_VARS = ["a", "b", "c", "d2", "x_y"]
_URIS = [
    "http://example.org/p",
    "http://example.org/ns#frag",
    "http://example.org/a.b/c-d",
    M.RDF_TYPE,
]
_LITS = ["plain", "with space", 'quo"te', "back\\slash", "tab\there", "7", ""]

_term_var = st.sampled_from(_VARS).map(lambda v: "?" + v)
_term_uri = st.sampled_from(_URIS)
_term_lit = st.sampled_from(_LITS)
_subject = st.one_of(_term_var, _term_uri)
_object = st.one_of(_term_var, _term_uri, _term_lit)
_pattern = st.tuples(_subject, st.one_of(_term_var, _term_uri), _object)
_group = st.lists(_pattern, min_size=1, max_size=3)


def _render_term(t: str, position: str) -> str:
    if t.startswith("?"):
        return t
    if t.startswith("http://"):
        # rdf:type in predicate position may render as 'a'
        if position == "p" and t == M.RDF_TYPE:
            return "a"
        return f"<{t}>"
    esc = t.replace("\\", "\\\\").replace('"', '\\"').replace("\t", "\\t")
    return f'"{esc}"'


def _render_group(patterns) -> str:
    return " ".join(
        f"{_render_term(s, 's')} {_render_term(p, 'p')} "
        f"{_render_term(o, 'o')} ."
        for s, p, o in patterns
    )


@settings(max_examples=60, deadline=None)
@given(
    patterns=_group,
    optionals=st.lists(_group, max_size=2),
    unions=st.lists(
        st.lists(_group, min_size=2, max_size=3), max_size=1
    ),
    distinct=st.booleans(),
    limit=st.one_of(st.none(), st.integers(0, 99)),
    order_var=st.one_of(st.none(), st.sampled_from(_VARS)),
    order_desc=st.booleans(),
)
def test_parse_roundtrips_rendered_algebra(
    patterns, optionals, unions, distinct, limit, order_var, order_desc
):
    """Any algebra rendered to query text parses back to the same
    algebra — terms with dots in URIs, quotes/escapes in literals, the
    'a' shorthand, and every modifier combination."""
    text = "SELECT " + ("DISTINCT " if distinct else "") + "* WHERE { "
    text += _render_group(patterns)
    for g in optionals:
        text += " OPTIONAL { " + _render_group(g) + " }"
    for branches in unions:
        text += " " + " UNION ".join(
            "{ " + _render_group(b) + " }" for b in branches
        )
    text += " }"
    if order_var is not None:
        text += (
            f" ORDER BY {'DESC' if order_desc else 'ASC'}(?{order_var})"
        )
    if limit is not None:
        text += f" LIMIT {limit}"

    q = parse_select(text)
    # rdf:type rendered as 'a' in predicate position parses back to the URI
    assert q.patterns == patterns
    assert [k for k, _ in q.groups] == (
        ["optional"] * len(optionals) + ["union"] * len(unions)
    )
    assert [b.patterns for k, b in q.groups if k == "optional"] == [
        list(g) for g in optionals
    ]
    assert [
        [b.patterns for b in branches]
        for k, branches in q.groups
        if k == "union"
    ] == [[list(b) for b in e] for e in unions]
    assert q.distinct is distinct and q.limit == limit
    assert q.project is None
    if order_var is not None:
        assert q.order_by == [("-" if order_desc else "") + "?" + order_var]


def test_aggregates_group_by(spark, catalog):
    """(COUNT(?x) AS ?n) ... GROUP BY — the serving-layer rollup (the
    reference's nrEntries-style dataset statistics) plans as a hash
    aggregate with map-side partial combine."""
    q = select_text(
        catalog,
        "select ?d (count(?o) as ?n) { ?d ?p ?o } group by ?d order by ?d",
    )
    got = [(r["d"].rsplit("/", 1)[1], r["n"]) for r in q.collect()]
    assert got == [("alpha", 8), ("beta", 9), ("gamma", 8)]
    plan = plan_of(q)
    assert "partial_count" in plan or "HashAggregate" in plan, plan[:2000]

    # COUNT(*) / COUNT(DISTINCT) / MIN / MAX / SUM+cast
    q2 = select_text(
        catalog,
        "select (count(*) as ?rows) (count(distinct ?d) as ?ds) "
        "(min(?m) as ?lo) (max(?m) as ?hi) "
        "{ ?d dcterms:modified ?m }",
    )
    r = q2.collect()[0]
    assert (r["rows"], r["ds"]) == (3, 3)
    assert r["lo"] == "2024-01-01T00:00:00Z" and r["hi"][:7] == "2024-09"

    q3 = select_text(
        catalog,
        "select (sum(?tv) as ?s) (avg(?tv) as ?a) "
        "{ ?d lso:transformationVersion ?tv }",
    )
    r = q3.collect()[0]
    # all-integer lexical forms: SUM is xsd:integer (SPARQL 1.1), not
    # 12.0 — the pre-scan typing; AVG stays double (documented)
    assert r["s"] == 12 and isinstance(r["s"], int)
    assert r["a"] == 4.0 and isinstance(r["a"], float)


def test_sum_integer_vs_decimal_typing(spark):
    """SUM over all-integer lexical forms comes back long; ONE decimal
    operand anywhere flips that variable's SUM to double for the whole
    query (per-query pre-scan, documented approximation of SPARQL's
    per-group typing). Non-numeric operands are dropped, not poisoned."""
    def t(*objs):
        return spark.createDataFrame(
            [(f"s{i}", "http://x/v", o, "d") for i, o in enumerate(objs)],
            "s string, p string, o string, dataset string",
        )

    q = "select (sum(?v) as ?s) { ?x <http://x/v> ?v }"
    r = select_text(t("7", "5", "x"), q).collect()[0]
    assert r["s"] == 12 and isinstance(r["s"], int)

    r = select_text(t("7", "5.5"), q).collect()[0]
    assert r["s"] == 12.5 and isinstance(r["s"], float)


_SUM_TYPING_DATA = {
    "int": [("a", "7"), ("a", "5"), ("b", "x"), ("b", "3")],
    "mixed": [("a", "7"), ("a", "5.5"), ("b", "x"), ("b", "3")],
    "nonnum": [("a", "x"), ("b", "y")],
    "empty": [],
    "dup": [("a", "2"), ("b", "2"), ("b", "3")],
    # the integer forms alone overflow a long; the query sums double
    "big": [("a", "9223372036854775800"), ("b", "100"), ("b", "0.5")],
}
_SUM_BODY = "{ ?x <http://x/v> ?v }"
_SUM_U = "select (sum(?v) as ?s) " + _SUM_BODY
_SUM_G = "select ?x (sum(?v) as ?s) " + _SUM_BODY + " group by ?x order by ?x"
_SUM_UD = "select (sum(distinct ?v) as ?s) " + _SUM_BODY
_SUM_GD = (
    "select ?x (sum(distinct ?v) as ?s) " + _SUM_BODY
    + " group by ?x order by ?x"
)
_SUM_GH = (
    "select ?x " + _SUM_BODY + " group by ?x having(sum(?v) > 4) order by ?x"
)
_SUM_UH = "select (count(?v) as ?n) " + _SUM_BODY + " having(sum(?v) > 4)"
_SUM_GO = (
    "select ?x (count(?v) as ?n) " + _SUM_BODY
    + " group by ?x order by desc(sum(?v))"
)
_SUM_UM = "select ((sum(?v) / count(?v)) as ?m) " + _SUM_BODY
_SUM_GM = (
    "select ?x ((sum(?v) / count(?v)) as ?m) " + _SUM_BODY
    + " group by ?x order by ?x"
)
_XS, _XN = ("x", "string"), ("n", "bigint")
_LONG, _DBL = ("s", "bigint"), ("s", "double")


@pytest.mark.parametrize(
    "data, q, dtypes, rows",
    [
        ("int", _SUM_U, [_LONG], [(15,)]),
        ("int", _SUM_G, [_XS, _LONG], [("a", 12), ("b", 3)]),
        ("int", _SUM_UD, [_LONG], [(15,)]),
        ("int", _SUM_GD, [_XS, _LONG], [("a", 12), ("b", 3)]),
        ("int", _SUM_GH, [_XS], [("a",)]),
        ("int", _SUM_UH, [_XN], [(4,)]),
        ("int", _SUM_GO, [_XS, _XN], [("a", 2), ("b", 2)]),
        ("int", _SUM_UM, [("m", "double")], [(3.75,)]),
        ("int", _SUM_GM, [_XS, ("m", "double")], [("a", 6.0), ("b", 1.5)]),
        ("mixed", _SUM_U, [_DBL], [(15.5,)]),
        # per-QUERY typing: group b holds only integers yet sums double
        ("mixed", _SUM_G, [_XS, _DBL], [("a", 12.5), ("b", 3.0)]),
        ("mixed", _SUM_UD, [_DBL], [(15.5,)]),
        ("mixed", _SUM_GD, [_XS, _DBL], [("a", 12.5), ("b", 3.0)]),
        ("mixed", _SUM_GH, [_XS], [("a",)]),
        ("mixed", _SUM_UM, [("m", "double")], [(3.875,)]),
        ("mixed", _SUM_GM, [_XS, ("m", "double")], [("a", 6.25), ("b", 1.5)]),
        ("nonnum", _SUM_U, [_LONG], [(None,)]),
        ("nonnum", _SUM_G, [_XS, _LONG], [("a", None), ("b", None)]),
        ("nonnum", _SUM_UD, [_LONG], [(None,)]),
        ("nonnum", _SUM_GH, [_XS], []),
        ("nonnum", _SUM_UH, [_XN], []),
        ("nonnum", _SUM_UM, [("m", "double")], [(None,)]),
        ("empty", _SUM_U, [_LONG], [(None,)]),
        ("empty", _SUM_G, [_XS, _LONG], []),
        ("empty", _SUM_UD, [_LONG], [(None,)]),
        ("empty", _SUM_GD, [_XS, _LONG], []),
        ("empty", _SUM_UH, [_XN], []),
        ("empty", _SUM_UM, [("m", "double")], [(None,)]),
        ("empty", _SUM_GM, [_XS, ("m", "double")], []),
        ("dup", _SUM_U, [_LONG], [(7,)]),
        ("dup", _SUM_UD, [_LONG], [(5,)]),
        ("dup", _SUM_GH, [_XS], [("b",)]),
        ("dup", _SUM_UH, [_XN], [(3,)]),
        ("dup", _SUM_GO, [_XS, _XN], [("b", 2), ("a", 1)]),
        ("big", _SUM_U, [_DBL], [(9.223372036854776e18,)]),
        ("big", _SUM_UD, [_DBL], [(9.223372036854776e18,)]),
        (
            "big",
            _SUM_G,
            [_XS, _DBL],
            [("a", 9.223372036854776e18), ("b", 100.5)],
        ),
    ],
)
def test_sum_typing_parity(spark, data, q, dtypes, rows):
    """SUM's long-vs-double typing, ungrouped and grouped, with
    DISTINCT, HAVING, ORDER BY and SUM inside a SELECT expression. Each
    expected dtype and value is the one the solutions-level typing scan
    returned for every query; an ungrouped SUM is now typed inside its
    own one-row collect. Empty input sums to a ``bigint`` NULL."""
    t = spark.createDataFrame(
        [(x, "http://x/v", v, "d") for x, v in _SUM_TYPING_DATA[data]],
        "s string, p string, o string, dataset string",
    )
    got = select_text(t, q)
    assert got.dtypes == dtypes
    assert [tuple(r) for r in got.collect()] == rows


def test_aggregates_having(spark, catalog):
    q = select_text(
        catalog,
        'select ?d (count(?o) as ?n) { ?d ?p ?o } '
        "group by ?d having(?n > 8)",
    )
    got = [(r["d"], r["n"]) for r in q.collect()]
    assert got == [(M.PREFIX_INSTANCE + "beta", 9)]


def test_bare_group_by(spark, catalog):
    q = select_text(catalog, "select ?p { ?s ?p ?o } group by ?p")
    assert q.count() == q.distinct().count() > 3


def test_aggregate_errors(spark, catalog):
    with pytest.raises(SparqlSyntaxError, match="neither grouped"):
        parse_select("select ?d ?p (count(?o) as ?n) { ?d ?p ?o } group by ?d")
    with pytest.raises(SparqlSyntaxError, match="SELECT \\*"):
        parse_select("select * { ?d ?p ?o } group by ?d")
    with pytest.raises(SparqlSyntaxError, match="HAVING needs"):
        parse_select("select ?d { ?d ?p ?o } having(?d > 1)")
    with pytest.raises(SparqlSyntaxError, match="unknown aggregate"):
        parse_select("select (median(?o) as ?x) { ?d ?p ?o }")
    with pytest.raises(SparqlSyntaxError, match="collide"):
        parse_select("select (count(?o) as ?d) { ?d ?p ?o } group by ?d")
    with pytest.raises(SparqlSyntaxError, match="unbound"):
        select_text(catalog, "select (count(?zz) as ?n) { ?d ?p ?o }")


def test_filter_builtin_functions(spark, catalog):
    """SPARQL filter built-ins map to Spark SQL equivalents: REGEX →
    regexp_like, STRSTARTS → startswith, UCASE → upper, BOUND → IS NOT
    NULL, STR → identity."""
    q = select_text(
        catalog,
        'select ?n { ?d dcterms:identifier ?n filter(regex(?n, "^[ab]")) }',
    )
    assert sorted(r["n"] for r in q.collect()) == ["alpha", "beta"]

    q = select_text(
        catalog,
        'select ?n { ?d dcterms:identifier ?n '
        'filter(strstarts(ucase(?n), "GA")) }',
    )
    assert [r["n"] for r in q.collect()] == ["gamma"]

    # BOUND over an optional variable keeps only solutions with a label
    q = select_text(
        catalog,
        "select ?n ?l { ?d dcterms:identifier ?n "
        "optional { ?d rdfs:label ?l } filter(bound(?l)) }",
    )
    assert [tuple(r) for r in q.collect()] == [("beta", "Beta dataset")]

    q = select_text(
        catalog,
        'select ?n { ?d dcterms:identifier ?n filter(str(?n) = "beta") }',
    )
    assert [r["n"] for r in q.collect()] == ["beta"]


def test_ask_queries(spark, catalog):
    """ASK compiles to limit(1) over the solutions: non-empty = true."""
    yes = select_text(catalog, "ask { ?d a qb:DataSet }")
    assert yes.count() == 1
    assert "limit" in plan_of(yes).lower() or yes.count() == 1
    no = select_text(
        catalog, 'ask where { ?d dcterms:identifier "omega" }'
    )
    assert no.count() == 0
    with pytest.raises(SparqlSyntaxError, match="no solution modifiers"):
        parse_select("ask { ?s ?p ?o } limit 5")
    with pytest.raises(SparqlSyntaxError, match="non-negative"):
        parse_select("select ?s { ?s ?p ?o } limit -1")


def test_filter_question_mark_inside_literal(spark, catalog):
    """A '?' inside a quoted URI/literal is not a variable reference —
    neither mangled by substitution nor reported as unbound."""
    q = select_text(
        catalog,
        "select ?d { ?d dcterms:identifier ?n "
        'filter(?n != "x?n" && ?n != "page?other") }',
    )
    assert q.count() == 3  # nothing matches the weird literals


def test_order_by_non_projected_variable(spark, catalog):
    """Valid SPARQL: ORDER BY over a variable the SELECT clause drops
    (allowed without DISTINCT; ordering happens pre-projection)."""
    q = select_text(
        catalog,
        "select ?d { ?d dcterms:modified ?m } order by desc(?m) limit 2",
    )
    names = [r["d"].rsplit("/", 1)[1] for r in q.collect()]
    assert names == ["gamma", "beta"]  # 2024-09, 2024-06 modified order


def test_optional_after_union_source_order(spark, catalog):
    """An OPTIONAL whose shared variable is bound by a PRECEDING union
    evaluates after it (SPARQL group order): solutions without an
    optional match survive with the optional variable unbound."""
    q = select_text(
        catalog,
        "select ?d ?when ?l { ?d a qb:DataSet "
        "{ ?d dcterms:created ?when } UNION { ?d dcterms:modified ?when } "
        "optional { ?d rdfs:label ?l } }",
    )
    rows = q.collect()
    assert len(rows) == 6  # 3 datasets x (created + modified)
    by_label = {r["l"] for r in rows}
    assert by_label == {None, "Beta dataset"}


def test_nullable_join_refused(spark, catalog):
    """A join keyed on a possibly-unbound variable raises (SPARQL's
    unbound-compatible join is not silently approximated)."""
    # optional introduces ?l; a later union shares it -> refuse
    with pytest.raises(ValueError, match="possibly-unbound"):
        select_text(
            catalog,
            f"""SELECT * {{ ?d <{M.RDF_TYPE}> <{M.QB_DATASET}>
              OPTIONAL {{ ?d <{M.RDFS_LABEL}> ?l }}
              {{ ?d <{M.NS_DCT}created> ?l }}
              UNION {{ ?d <{M.NS_DCT}modified> ?l }} }}""",
        ).collect()
    # base union leaves ?c partially bound; a later optional on ?c -> refuse
    with pytest.raises(ValueError, match="possibly-unbound"):
        select_text(
            catalog,
            f"""SELECT * {{ {{ ?d <{M.NS_DCT}created> ?c }}
              UNION {{ ?d <{M.RDF_TYPE}> <{M.QB_DATASET}> }}
              OPTIONAL {{ ?x <{M.RDFS_LABEL}> ?c }} }}""",
        ).collect()


def test_values_clause(spark, catalog):
    """VALUES: inline parameter binding — single- and multi-var forms,
    UNDEF handling, leading-VALUES base, and the LocalTableScan shape
    (no Spark job launches to build inline data)."""
    q = select_text(
        catalog,
        'select ?d ?n { values ?n { "alpha" "gamma" } '
        "?d dcterms:identifier ?n }",
    )
    got = sorted(r["n"] for r in q.collect())
    assert got == ["alpha", "gamma"]
    assert "LocalTableScan" in plan_of(q)

    # multi-var: constrains pairs, not each var independently
    q = select_text(
        catalog,
        "select ?d ?n ?m { ?d dcterms:identifier ?n . "
        "?d dcterms:modified ?m "
        'values (?n ?m) { ("alpha" "2024-01-01T00:00:00Z") '
        '("beta" "1999-01-01T00:00:00Z") } }',
    )
    assert [r["n"] for r in q.collect()] == ["alpha"]  # beta pair is wrong

    # VALUES as the leading group (no base patterns)
    q = select_text(
        catalog,
        'select ?n ?d { values ?n { "beta" } ?d dcterms:identifier ?n }',
    )
    assert [tuple(r) for r in q.collect()] == [
        ("beta", M.PREFIX_INSTANCE + "beta")
    ]

    # UNDEF on a non-shared var comes through as NULL (unbound)
    q = select_text(
        catalog,
        "select ?n ?tag { ?d dcterms:identifier ?n "
        'values (?n ?tag) { ("alpha" "x") ("beta" UNDEF) } }',
    )
    assert sorted(map(tuple, q.collect()), key=str) == [
        ("alpha", "x"), ("beta", None),
    ]

    # UNDEF on a SHARED var would need the compatibility join -> refuse
    with pytest.raises(ValueError, match="UNDEF"):
        select_text(
            catalog,
            "select ?n { ?d dcterms:identifier ?n "
            'values ?n { "alpha" UNDEF } }',
        ).collect()

    # parse errors
    with pytest.raises(SparqlSyntaxError, match="arity"):
        parse_select('select ?a { values (?a ?b) { ("x") } }')
    with pytest.raises(SparqlSyntaxError, match="constants or UNDEF"):
        parse_select("select ?a { values ?a { ?b } }")
    with pytest.raises(SparqlSyntaxError, match="data row"):
        parse_select("select ?a { values ?a { } }")


# --- round 5: FILTER-in-OPTIONAL, BIND, SELECT exprs, OFFSET -------------


def test_optional_scoped_filter_left_join_semantics(spark, catalog):
    """FILTER inside OPTIONAL is the left join's ON condition (SPARQL
    LeftJoin(Ω1, Ω2, expr)): a solution whose optional match FAILS the
    filter is kept NULL-extended — a solution-level (post-join) filter
    would drop it. Both shapes pinned side by side."""
    in_optional = select_text(
        catalog,
        "select ?n ?tv { ?d dcterms:identifier ?n "
        'optional { ?d lso:transformationVersion ?tv filter(?tv > "3") } }',
    )
    got = {r["n"]: r["tv"] for r in in_optional.collect()}
    # alpha's tv="3" fails the filter -> row KEPT, tv unbound
    assert got == {"alpha": None, "beta": "4", "gamma": "5"}

    post_filter = select_text(
        catalog,
        "select ?n ?tv { ?d dcterms:identifier ?n "
        "optional { ?d lso:transformationVersion ?tv } "
        'filter(?tv > "3") }',
    )
    # the solution-level filter drops alpha entirely (NULL -> false)
    got2 = {r["n"]: r["tv"] for r in post_filter.collect()}
    assert got2 == {"beta": "4", "gamma": "5"}


def test_optional_filter_references_outer_variable(spark, catalog):
    """An OPTIONAL-scoped filter may reference solution-side variables:
    it still gates only the MATCH, never the solution row."""
    q = select_text(
        catalog,
        "select ?n ?tv { ?d dcterms:identifier ?n "
        "optional { ?d lso:transformationVersion ?tv "
        'filter(?n != "beta") } }',
    )
    got = {r["n"]: r["tv"] for r in q.collect()}
    assert got == {"alpha": "3", "beta": None, "gamma": "5"}


def test_constant_filters_evaluate(spark, catalog):
    """A FILTER naming no variable holds or fails for every solution
    alike: true and 1 = 1 keep every row, false keeps none — in a group
    and inside an OPTIONAL body (which then never matches)."""
    everything = catalog.count()
    for cond, want in (("true", everything), ("false", 0), ("1 = 1", everything)):
        q = select_text(catalog, f"SELECT * {{ ?s ?p ?o FILTER({cond}) }}")
        assert q.count() == want, cond
    q = select_text(
        catalog,
        "select ?n ?tv { ?d dcterms:identifier ?n "
        "optional { ?d lso:transformationVersion ?tv filter(false) } }",
    )
    got = {r["n"]: r["tv"] for r in q.collect()}
    assert got == {"alpha": None, "beta": None, "gamma": None}


def test_optional_filter_unknown_variable_refused(spark, catalog):
    with pytest.raises(ValueError, match="neither the solution"):
        select_text(
            catalog,
            "select ?n { ?d dcterms:identifier ?n "
            'optional { ?d rdfs:label ?l filter(?zz = "x") } }',
        )


def test_bind_expression(spark, catalog):
    q = select_text(
        catalog,
        "select ?n ?year { ?d dcterms:identifier ?n . "
        "?d dcterms:created ?c . bind(substr(?c, 1, 4) as ?year) }",
    )
    got = {r["n"]: r["year"] for r in q.collect()}
    assert got == {"alpha": "2023", "beta": "2023", "gamma": "2023"}

    # BIND result is usable by a later solution-level FILTER
    q = select_text(
        catalog,
        "select ?n { ?d dcterms:identifier ?n . ?d dcterms:created ?c . "
        'bind(substr(?c, 6, 2) as ?month) filter(?month = "06") }',
    )
    assert [r["n"] for r in q.collect()] == ["beta"]

    # leading BIND: base is the single empty solution
    q = select_text(catalog, 'select ?x { bind("k" as ?x) }')
    assert [r["x"] for r in q.collect()] == ["k"]

    with pytest.raises(ValueError, match="rebind"):
        select_text(
            catalog,
            "select ?n { ?d dcterms:identifier ?n "
            'bind("x" as ?n) }',
        )
    with pytest.raises(ValueError, match="unbound"):
        select_text(
            catalog,
            "select ?n ?y { ?d dcterms:identifier ?n "
            "bind(ucase(?zz) as ?y) }",
        )
    with pytest.raises(SparqlSyntaxError, match="AS"):
        parse_select('select ?x { bind("k") }')


def test_select_expressions(spark, catalog):
    q = select_text(
        catalog,
        "select ?n (substr(?m, 1, 4) as ?year) "
        "{ ?d dcterms:identifier ?n . ?d dcterms:modified ?m } order by ?n",
    )
    assert [tuple(r) for r in q.collect()] == [
        ("alpha", "2024"), ("beta", "2024"), ("gamma", "2024"),
    ]

    # expression over a GROUP BY variable next to an aggregate
    q = select_text(
        catalog,
        "select ?d (count(?o) as ?cnt) (ucase(?d) as ?loud) "
        "{ ?d ?p ?o } group by ?d order by ?d limit 1",
    )
    r = q.collect()[0]
    assert r["loud"] == r["d"].upper() and r["cnt"] == 8

    with pytest.raises(SparqlSyntaxError, match="neither grouped"):
        select_text(
            catalog,
            "select ?d (count(?o) as ?cnt) (ucase(?p) as ?loud) "
            "{ ?d ?p ?o } group by ?d",
        )
    with pytest.raises(SparqlSyntaxError, match="aggregate or"):
        parse_select("select (?a ?b) { ?a ?p ?b }")


def test_offset_paging(spark, catalog):
    """OFFSET under a total ORDER BY pages the solution set exactly
    once; an offset past the end is empty; cap still bounds rows."""
    base = "select ?n { ?d dcterms:identifier ?n } order by ?n"
    pages = [
        [r["n"] for r in
         select_text(catalog, f"{base} limit 1 offset {k}").collect()]
        for k in range(4)
    ]
    assert pages == [["alpha"], ["beta"], ["gamma"], []]
    assert [
        r["n"] for r in
        select_text(catalog, f"{base} offset 1 limit 2").collect()
    ] == ["beta", "gamma"]
    # limit_cap caps rows RETURNED, never the skip
    assert [
        r["n"] for r in
        select_text(catalog, f"{base} offset 2", limit_cap=5).collect()
    ] == ["gamma"]


def test_unknown_builtin_and_cast_rejected_at_parse_time():
    with pytest.raises(SparqlSyntaxError, match="unknown aggregate or"):
        parse_select("select ?x { ?x ?p ?o filter(levenshtein(?o)) }")
    # isBlank is supported now (round 5) and flags needs_kinds
    assert parse_select(
        "select ?x { ?x ?p ?o filter(isBlank(?o)) }"
    ).needs_kinds
    # sameTerm is supported (term identity via companions) and flags
    # needs_kinds; the unsupported-shape fallthrough still rejects
    assert parse_select(
        "select ?x { ?x ?p ?o filter(sameTerm(?o, ?x)) }"
    ).needs_kinds
    with pytest.raises(SparqlSyntaxError, match="unknown aggregate or"):
        parse_select(
            "select ?x { ?x ?p ?o filter(sameTerm(?o, <http://u>)) }"
        )
    with pytest.raises(SparqlSyntaxError, match="cast syntax"):
        parse_select("select ?x { ?x ?p ?o filter(xsd:integer(?o) > 3) }")
    # LANG/DATATYPE/langMatches parse (round 5) and flag needs_kinds
    q = parse_select(
        'select ?x { ?x ?p ?o filter(langMatches(lang(?o), "en")) }'
    )
    assert q.needs_kinds
    assert parse_select(
        "select ?x { ?x ?p ?o filter(datatype(?o) = xsd:integer) }"
    ).needs_kinds


def test_filter_numeric_vs_lexical_comparison(spark):
    """Pinned semantic split (do not 'fix' either side away): a QUOTED
    literal compares lexically against the string column; an UNQUOTED
    numeric literal makes Spark coerce the column and compare
    numerically — closer to SPARQL's typed comparison."""
    t = spark.createDataFrame(
        [("s1", "http://p", "9", "x"), ("s2", "http://p", "10", "x")],
        "s string, p string, o string, dataset string",
    )
    numeric = select_text(t, "select ?s { ?s ?p ?v filter(?v > 9) }")
    assert [r["s"] for r in numeric.collect()] == ["s2"]  # 10 > 9
    lexical = select_text(t, 'select ?s { ?s ?p ?v filter(?v > "9") }')
    assert lexical.count() == 0  # "10" < "9" lexically, "9" = "9"


def test_unspaced_less_than_is_an_operator(spark):
    """``<`` right after an operand is less-than, so an unspaced filter
    (``?a<?b&&?b>?a`` once lexed as the IRI ``<?b&&?b>``) parses and
    returns the spaced form's rows; where a term may start, ``<...>``
    is still an IRI."""
    t = spark.createDataFrame(
        [
            ("s1", "http://a", "1", "x"), ("s1", "http://b", "5", "x"),
            ("s2", "http://a", "7", "x"), ("s2", "http://b", "3", "x"),
            ("s3", "http://a", "2", "x"), ("s3", "http://b", "2", "x"),
        ],
        "s string, p string, o string, dataset string",
    )
    body = "select ?s {{ ?s <http://a> ?a . ?s <http://b> ?b filter({}) }}"
    for unspaced, spaced in (
        ("?a<?b&&?b>?a", "?a < ?b && ?b > ?a"),
        ("?a<=?b&&?b<=?a", "?a <= ?b && ?b <= ?a"),
        ("?a<3||?b<3", "?a < 3 || ?b < 3"),
    ):
        got = sorted(r["s"] for r in select_text(t, body.format(unspaced)).collect())
        want = sorted(r["s"] for r in select_text(t, body.format(spaced)).collect())
        assert got == want and got, (unspaced, got, want)
    q = parse_select("select ?s { ?s ?p ?o filter(?p=<http://a>) }")
    assert q.filters == [("call", "=", [("var", "p"), ("iri", "http://a")])]
    assert q.patterns == [("?s", "?p", "?o")]


def test_filter_numeric_drops_malformed_rows(spark):
    """SPARQL expression-error semantics: a numeric FILTER over a row
    whose lexical form is not a number DROPS that row — it must not
    throw CAST_INVALID_INPUT out of ANSI codegen (one malformed triple
    would otherwise 500 the whole /sparql request). Both operand
    orders; quoted strings that LOOK numeric still compare lexically."""
    t = spark.createDataFrame(
        [
            ("s1", "http://p", "10", "x"),
            ("s2", "http://p", "not-a-number", "x"),
            ("s3", "http://p", "7", "x"),
        ],
        "s string, p string, o string, dataset string",
    )
    got = select_text(t, "select ?s { ?s ?p ?v filter(?v > 9) }").collect()
    assert [r["s"] for r in got] == ["s1"]
    got = select_text(t, "select ?s { ?s ?p ?v filter(9 >= ?v) }").collect()
    assert [r["s"] for r in got] == ["s3"]
    # ABS reads its operand as a number the way CEIL / FLOOR / ROUND do
    got = select_text(t, "select ?s { ?s ?p ?v filter(abs(?v) > 8) }").collect()
    assert [r["s"] for r in got] == ["s1"]
    # a ?var=... inside a quoted literal is data, not a comparison
    got = select_text(
        t, 'select ?s { ?s ?p ?v filter(?v != "q?page=3") }'
    ).collect()
    assert len(got) == 3


def test_arithmetic_over_malformed_forms_is_a_row_error(spark):
    """``+ - * /`` over a lexical form that is not a number is an
    expression error for that row only: unbound in SELECT, dropped by
    FILTER, skipped by SUM — never CAST_INVALID_INPUT for the whole
    query. Beside an integer the operand is typed as an integer, so a
    fractional form there is an error too, never truncated; beside a
    decimal, under ``/``, beside another lexical-form variable and under
    unary minus it is read as a double. A native value (a BIND, an
    aggregate) keeps its own type."""
    from pyspark.sql import functions as F

    t = spark.createDataFrame(
        [("a", "p", "10"), ("b", "p", "abc"), ("c", "p", "-2.5")],
        "s string, p string, o string",
    ).withColumn("dataset", F.lit("d"))

    def run(q):
        df = select_text(t, q)
        return dict(df.dtypes), sorted(tuple(r) for r in df.collect())

    types, rows = run("SELECT ?s (?o + 1 AS ?t) { ?s ?p ?o }")
    assert types["t"] == "bigint"
    assert rows == [("a", 11), ("b", None), ("c", None)]
    _, rows = run("SELECT ?s { ?s ?p ?o FILTER(?o * 2 > 3) }")
    assert rows == [("a",)]
    types, rows = run(
        "SELECT ?s (SUM(?o * 2) AS ?t) { ?s ?p ?o } GROUP BY ?s"
    )
    assert types["t"] == "bigint"
    assert rows == [("a", 20), ("b", None), ("c", None)]
    _, rows = run("SELECT ?s (?o * 2.0 AS ?t) { ?s ?p ?o }")
    assert rows == [("a", 20.0), ("b", None), ("c", -5.0)]
    _, rows = run("SELECT ?s (?o / 2 AS ?t) { ?s ?p ?o }")
    assert rows == [("a", 5.0), ("b", None), ("c", -1.25)]
    types, rows = run("SELECT ?s (-?o AS ?t) { ?s ?p ?o }")
    assert types["t"] == "double"
    assert rows == [("a", -10.0), ("b", None), ("c", 2.5)]
    _, rows = run("SELECT ?s { ?s ?p ?o FILTER(-?o > 0) }")
    assert rows == [("c",)]
    # two lexical-form variables: Spark coerces no string-op-string pair
    for op, want in (("+", [20.0, None, -5.0]), ("-", [0.0, None, 0.0]),
                     ("*", [100.0, None, 6.25]), ("/", [1.0, None, 1.0])):
        types, rows = run(f"SELECT ?s (?o {op} ?o AS ?t) {{ ?s ?p ?o }}")
        assert types["t"] == "double", op
        assert [r[1] for r in rows] == want, op
    types, rows = run("SELECT (SUM(?o * ?o) AS ?t) { ?s ?p ?o }")
    assert (types["t"], rows) == ("double", [(106.25,)])
    # an OPTIONAL condition reads the body's and the solution's forms
    _, rows = run(
        "SELECT ?s ?w { ?s ?p ?o OPTIONAL { ?s ?p ?w FILTER(?w + ?o > 0) } }"
    )
    assert rows == [("a", "10"), ("b", None), ("c", None)]
    # MIN/MAX aggregate lexical forms ("-2.5" and "10")
    types, rows = run(
        "SELECT (MIN(?o) + MAX(?o) AS ?t) { ?s ?p ?o FILTER(?s != 'b') }"
    )
    assert (types["t"], rows) == ("double", [(7.5,)])
    # native values keep their own exact type: aggregates, BINDs and
    # subquery aggregates (integer op integer is an integer)
    types, rows = run(
        "SELECT (COUNT(?o) + COUNT(?s) AS ?a) (-COUNT(?o) AS ?b) { ?s ?p ?o }"
    )
    assert (types["a"], types["b"]) == ("bigint", "bigint")
    assert rows == [(6, -3)]
    types, rows = run(
        "SELECT ?s (?x + ?y AS ?z) (-?x AS ?m) (-?n AS ?k) (?o + ?x AS ?u) "
        "{ ?s ?p ?o BIND(9007199254740993 AS ?x) BIND(2 AS ?y) "
        "BIND(STRLEN(?o) AS ?n) }"
    )
    assert {types[v] for v in "zmu"} == {"bigint"}
    assert types["k"] == "int"
    assert rows == [
        ("a", 9007199254740995, -9007199254740993, -2, 9007199254741003),
        ("b", 9007199254740995, -9007199254740993, -3, None),
        ("c", 9007199254740995, -9007199254740993, -4, None),
    ]
    types, rows = run(
        "SELECT (?n - ?m AS ?d) { { SELECT (COUNT(?o) AS ?n) { ?s ?p ?o } } "
        "{ SELECT (COUNT(*) AS ?m) { ?s ?p ?o FILTER(?s != 'a') } } }"
    )
    assert (types["d"], rows) == ("bigint", [(1,)])


def test_minus_and_exists(spark, catalog):
    """MINUS (left-anti on shared vars) and FILTER [NOT] EXISTS
    (semi/anti): the three catalog datasets minus the incomplete one;
    the no-shared-variable MINUS removes nothing (spec's
    disjoint-domain rule); EXISTS with no shared variable degenerates
    to a non-emptiness test."""
    I, O = M.PREFIX_INSTANCE, M.PREFIX_ONTOLOGY

    got = select_text(
        catalog,
        "select ?d { ?d a qb:DataSet "
        f'minus {{ ?d <{O}uploadComplete> "false" }} }} order by ?d',
    ).collect()
    assert [r["d"] for r in got] == [I + "alpha", I + "beta"]

    # MINUS group sharing NO variable with the solution: removes nothing
    got = select_text(
        catalog,
        "select ?d { ?d a qb:DataSet "
        f'minus {{ ?x <{O}uploadComplete> "false" }} }}',
    ).collect()
    assert len(got) == 3

    # FILTER NOT EXISTS differs exactly there: still an anti join on
    # shared vars when they exist
    got = select_text(
        catalog,
        "select ?d { ?d a qb:DataSet "
        f'filter not exists {{ ?d <{O}uploadComplete> "false" }} }} '
        "order by ?d",
    ).collect()
    assert [r["d"] for r in got] == [I + "alpha", I + "beta"]

    got = select_text(
        catalog,
        "select ?d { ?d a qb:DataSet "
        "filter exists { ?d rdfs:label ?l } }",
    ).collect()
    assert [r["d"] for r in got] == [I + "beta"]

    # no shared variable: EXISTS = "is the group non-empty at all"
    assert (
        select_text(
            catalog,
            "select ?d { ?d a qb:DataSet "
            "filter exists { ?x rdfs:label ?l } }",
        ).count()
        == 3
    )
    assert (
        select_text(
            catalog,
            "select ?d { ?d a qb:DataSet "
            'filter not exists { ?x rdfs:label "nope" } }',
        ).count()
        == 3
    )
    # group-level scoping: EXISTS may reference a variable bound by a
    # LATER group in source order
    got = select_text(
        catalog,
        "select ?d ?l { filter exists { ?d rdfs:label ?l } "
        "?d a qb:DataSet . ?d rdfs:label ?l }",
    ).collect()
    assert [r["l"] for r in got] == ["Beta dataset"]
    with pytest.raises(SparqlSyntaxError, match="NOT must be followed"):
        parse_select("select ?x { ?x ?p ?o filter not bound(?x) }")


def test_construct_graph(spark, catalog):
    """CONSTRUCT returns a graph in the engine's triple-table shape:
    template constants keep their written form (uri vs literal,
    datatype/lang), variables instantiate per solution, unbound
    template variables skip the triple, and the graph is set-deduped."""
    I, O = M.PREFIX_INSTANCE, M.PREFIX_ONTOLOGY
    q = (
        "construct { ?d a <http://ex/Catalog> ; "
        '<http://ex/note> "seen"@en ; '
        "<http://ex/label> ?l } "
        "where { ?d a qb:DataSet optional { ?d rdfs:label ?l } }"
    )
    got = select_text(catalog, q)
    assert got.columns == ["s", "p", "o", "o_kind", "o_datatype", "o_lang"]
    rows = {(r["s"], r["p"], r["o"]) for r in got.collect()}
    # 3 datasets x (type + note) + 1 label (only beta has rdfs:label —
    # the unbound ?l solutions skip the label template triple)
    assert len(rows) == 7
    assert (I + "beta", "http://ex/label", "Beta dataset") in rows
    assert not any(p == "http://ex/label" and s != I + "beta"
                   for s, p, o in rows)
    by_po = {
        (r["p"], r["o"]): r for r in got.collect()
    }
    note = by_po[("http://ex/note", "seen")]
    assert note["o_kind"] == "literal" and note["o_lang"] == "en"
    typ = by_po[("http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
                 "http://ex/Catalog")]
    assert typ["o_kind"] == "uri"

    # dedup: a constant-only template over N solutions is ONE triple
    one = select_text(
        catalog,
        "construct { <http://ex/g> <http://ex/n> 3 } "
        "where { ?d a qb:DataSet }",
    ).collect()
    assert len(one) == 1 and one[0]["o"] == "3"
    assert one[0]["o_kind"] == "literal"

    # LIMIT applies to the solution sequence before instantiation
    limited = select_text(
        catalog,
        "construct { ?d a <http://ex/Catalog> } "
        "where { ?d a qb:DataSet } order by ?d limit 2",
    ).collect()
    assert len(limited) == 2

    # parse guards
    with pytest.raises(SparqlSyntaxError, match="template needs"):
        parse_select("construct { } where { ?s ?p ?o }")
    with pytest.raises(SparqlSyntaxError, match="GROUP BY"):
        parse_select(
            "construct { ?s a ?o } where { ?s ?p ?o } group by ?s"
        )
    with pytest.raises(SparqlSyntaxError, match="bound by no pattern"):
        select_text(catalog, "construct { ?x a ?y } where { ?s ?p ?o }")


def test_construct_with_kind_metadata(spark):
    """Over a kinds-carrying triple table the output object metadata
    comes from the DATA (companions), and a literal bound to a
    subject-position variable skips the triple per the spec."""
    from pyspark.sql import functions as F

    rows = [
        ("http://x/a", "http://x/p", "http://x/b", "uri", None, None),
        ("http://x/a", "http://x/q", "42", "literal",
         "http://www.w3.org/2001/XMLSchema#integer", None),
        ("http://x/a", "http://x/r", "hello", "literal", None, "en"),
    ]
    schema = "s string, p string, o string, o_kind string, o_datatype string, o_lang string"
    t = spark.createDataFrame(rows, schema).withColumn(
        "dataset", F.lit("d")
    )

    got = select_text(
        t,
        "construct { <http://y/s> <http://y/p> ?o } "
        "where { <http://x/a> ?p ?o }",
    ).collect()
    meta = {(r["o"], r["o_kind"], r["o_datatype"], r["o_lang"]) for r in got}
    assert meta == {
        ("http://x/b", "uri", None, None),
        ("42", "literal", "http://www.w3.org/2001/XMLSchema#integer", None),
        ("hello", "literal", None, "en"),
    }

    # object var promoted to SUBJECT position: the two literal bindings
    # skip (literal subjects are invalid RDF), only the uri one lands
    got = select_text(
        t,
        "construct { ?o <http://y/p> <http://y/o> } "
        "where { <http://x/a> ?p ?o }",
    ).collect()
    assert [(r["s"], r["o_kind"]) for r in got] == [("http://x/b", "uri")]

    # N-Triples serialization of the constructed graph round-trips the
    # datatype/lang metadata
    from linkedspending_spark.functions.nt import nt_statement

    g = select_text(
        t,
        "construct { <http://y/s> <http://y/p> ?o } "
        "where { <http://x/a> ?p ?o }",
    )
    lines = sorted(r["v"] for r in g.select(nt_statement().alias("v")).collect())
    assert lines == [
        '<http://y/s> <http://y/p> "42"^^<http://www.w3.org/2001/XMLSchema#integer> .',
        '<http://y/s> <http://y/p> "hello"@en .',
        "<http://y/s> <http://y/p> <http://x/b> .",
    ]


def test_describe(spark, catalog):
    """DESCRIBE: outgoing triples of the named resources — constants
    push down as a subject In filter; ?var resources resolve through
    the WHERE solutions (semi join); output is the triple-table shape."""
    I, D = M.PREFIX_INSTANCE, M.NS_DCT

    got = select_text(catalog, f"describe <{I}beta>")
    assert got.columns == ["s", "p", "o"]  # kinds-less fixture table
    rows = got.collect()
    assert len(rows) == 9 and all(r["s"] == I + "beta" for r in rows)

    # two constants
    assert select_text(
        catalog, f"describe <{I}beta> <{I}alpha>"
    ).count() == 17

    # var form: resources from the WHERE solutions
    got = select_text(
        catalog,
        'describe ?d where { ?d lso:uploadComplete "false" }',
    ).collect()
    assert len(got) == 8 and all(r["s"] == I + "gamma" for r in got)

    # LIMIT applies to the solution sequence (first k resources)
    got = select_text(
        catalog,
        "describe ?d where { ?d a qb:DataSet } order by ?d limit 1",
    ).collect()
    assert {r["s"] for r in got} == {I + "alpha"}

    # mixed constants + var, overlap dedups
    got = select_text(
        catalog,
        f"describe <{I}gamma> ?d where "
        '{ ?d lso:uploadComplete "false" }',
    )
    assert got.count() == 8

    with pytest.raises(SparqlSyntaxError, match="bound by no pattern"):
        select_text(catalog, "describe ?x where { ?d a qb:DataSet }")


def test_lang_datatype_builtins(spark):
    """LANG / DATATYPE / langMatches over the term-metadata companions:
    language-range matching (exact + prefix + '*'), LANG='' for plain
    literals, DATATYPE falls back to xsd:string / rdf:langString, and
    both are NULL (row drops) for URIs — SPARQL's expression error."""
    rows = [
        ("s1", "http://x/p", "hello", "literal", None, "en"),
        ("s2", "http://x/p", "howdy", "literal", None, "en-US"),
        ("s3", "http://x/p", "hallo", "literal", None, "de"),
        ("s4", "http://x/p", "plain", "literal", None, None),
        ("s5", "http://x/p", "42", "literal",
         "http://www.w3.org/2001/XMLSchema#integer", None),
        ("s6", "http://x/p", "http://x/uri-object", "uri", None, None),
    ]
    schema = ("s string, p string, o string, o_kind string, "
              "o_datatype string, o_lang string")
    from pyspark.sql import functions as F

    t = spark.createDataFrame(rows, schema).withColumn("dataset", F.lit("d"))

    def subs(q):
        return sorted(r["s"] for r in select_text(t, q).collect())

    base = "select ?s { ?s ?p ?o filter(%s) }"
    assert subs(base % 'langMatches(lang(?o), "en")') == ["s1", "s2"]
    assert subs(base % 'langMatches(lang(?o), "EN-us")') == ["s2"]
    assert subs(base % 'langMatches(lang(?o), "*")') == ["s1", "s2", "s3"]
    assert subs(base % 'lang(?o) = ""') == ["s4", "s5"]  # URI drops (NULL)
    assert subs(base % 'lang(?o) = "de"') == ["s3"]
    assert subs(base % "datatype(?o) = xsd:integer") == ["s5"]
    assert subs(base % "datatype(?o) = xsd:string") == ["s4"]
    assert subs(
        base % "datatype(?o) = rdf:langString"
    ) == ["s1", "s2", "s3"]
    # isURI/isIRI/isLiteral from metadata; isNumeric from the lexical
    # form (no metadata needed)
    assert subs(base % "isURI(?o)") == ["s6"]
    assert subs(base % "isIRI(?o)") == ["s6"]
    assert subs(base % "isLiteral(?o)") == ["s1", "s2", "s3", "s4", "s5"]
    assert subs(base % "isNumeric(?o)") == ["s5"]
    # companions stay INTERNAL: the caller did not ask for kinds
    out = select_text(t, base % 'lang(?o) = "de"')
    assert out.columns == ["s"]
    # kinds-less table: loud, typed refusal (a 400 over REST)
    bare = t.select("s", "p", "o", "dataset")
    with pytest.raises(SparqlSyntaxError, match="term metadata"):
        select_text(bare, base % 'lang(?o) = "de"')
    # quoted text containing 'lang(' is data, not a built-in call
    assert subs(base % '?o != "lang(x)"') == [f"s{i}" for i in range(1, 7)]


def test_graph_forms_plan_shapes(spark, catalog, tmp_path):
    """Scale shapes of the new query forms: DESCRIBE constants reach
    the parquet scan as a pushed-down subject filter; CONSTRUCT plans
    as a shuffle-free union of narrow projections."""
    path = str(tmp_path / "cat.parquet")
    catalog.write.parquet(path)
    t = spark.read.parquet(path)
    I = M.PREFIX_INSTANCE

    plan = plan_of(select_text(t, f"describe <{I}beta>"))
    assert "PushedFilters" in plan
    import re as _re

    pushed = _re.search(r"PushedFilters: \[([^\]]*)\]", plan).group(1)
    assert "s" in pushed and ("In(" in pushed or "EqualTo" in pushed)

    plan = plan_of(
        select_text(
            t,
            "construct { ?d a <http://ex/C> . ?d <http://ex/n> ?n } "
            "where { ?d dcterms:identifier ?n }",
        )
    )
    # the only exchange is the final set-dedup's — template
    # instantiation itself is Union over projections, no join shuffle
    assert "Union" in plan
    assert plan.count("SortMergeJoin") == 0


def test_group_concat(spark, catalog):
    """GROUP_CONCAT with SEPARATOR / DISTINCT — values sorted for
    deterministic output (SPARQL leaves the order unspecified)."""
    got = sorted(
        map(
            tuple,
            select_text(
                catalog,
                'select ?d (group_concat(?p; separator=", ") as ?ps) '
                "{ ?d <http://purl.org/dc/terms/identifier> ?n . "
                "?d ?p ?o . } group by ?d order by ?d limit 1",
            ).collect(),
        )
    )
    assert len(got) == 1
    d, ps = got[0]
    parts = ps.split(", ")
    assert parts == sorted(parts) and len(parts) == 8
    # DISTINCT + default separator (single space, SPARQL 1.1 §18.5.1.7)
    got = select_text(
        catalog,
        "select (group_concat(distinct ?c) as ?cs) "
        "{ ?d <http://linkedspending.aksw.org/ontology/uploadComplete> "
        "?c }",
    ).collect()
    assert got[0]["cs"] == "false true"
    with pytest.raises(SparqlSyntaxError, match="GROUP_CONCAT"):
        parse_select('select (group_concat(?x; sep="a") as ?y) { ?s ?p ?x }')


def test_having_direct_aggregate_form(spark, catalog):
    """HAVING(COUNT(?x) > n) — the spec's direct form: aggregate calls
    become hidden aliases computed alongside the SELECT aggregates and
    dropped after the filter applies."""
    got = select_text(
        catalog,
        "select ?d { ?d ?p ?o } group by ?d having(count(?o) > 2)",
    )
    assert got.count() == 3 and got.columns == ["d"]  # no __agg leak
    got = select_text(
        catalog,
        "select ?d (count(?o) as ?n) { ?d ?p ?o } group by ?d "
        'having(count(?o) >= 8 && min(?o) < "3")',
    ).collect()
    assert len(got) == 3 and all(r["n"] >= 8 for r in got)
    with pytest.raises(SparqlSyntaxError, match="reserved internal"):
        parse_select("select ?__agg0 { ?__agg0 ?p ?o }")


def test_trailing_values_clause(spark, catalog):
    """The grammar's final VALUES clause joins after grouping
    (§18.2.4) — restricting group keys post-aggregation."""
    I = M.PREFIX_INSTANCE
    got = select_text(
        catalog,
        "select ?d (count(?o) as ?n) { ?d ?p ?o } group by ?d "
        f"values ?d {{ <{I}beta> }}",
    ).collect()
    assert len(got) == 1 and got[0]["n"] == 9  # beta has the rdfs:label
    with pytest.raises(SparqlSyntaxError, match="UNDEF"):
        select_text(
            catalog,
            "select ?d { ?d ?p ?o } values ?d { UNDEF }",
        )


def test_string_numeric_builtins(spark):
    """The built-ins that compose over their operands (compile_expr):
    STRBEFORE/STRAFTER (empty-needle edge cases per 17.4.3.4),
    ROUND with XPath half-to-positive-infinity (round(-2.5) = -2,
    where Spark's round() gives -3), CEIL/FLOOR/date-parts over
    try_cast (malformed lexical forms DROP, never throw), REPLACE
    as regex replacement, ENCODE_FOR_URI's three divergences from
    url_encode, and the hash family."""
    import hashlib

    from pyspark.sql import functions as F

    rows = [
        ("a", "hello world"),
        ("b", "-2.5"),
        ("c", "3.2"),
        ("d", "not-a-number"),
        ("e", "2024-06-15T12:30:45Z"),
        ("f", "a~b*c"),
    ]
    t = (
        spark.createDataFrame(rows, "s string, o string")
        .select("s", F.lit("http://x/p").alias("p"), "o")
        .withColumn("dataset", F.lit("d"))
    )

    def subs(f):
        q = "select ?s { ?s ?p ?o filter(%s) }" % f
        return sorted(r["s"] for r in select_text(t, q).collect())

    all_s = [r[0] for r in rows]
    assert subs('strbefore(?o, " ") = "hello"') == ["a"]
    assert subs('strafter(?o, " ") = "world"') == ["a"]
    # empty needle: STRBEFORE -> "", STRAFTER -> the whole string
    assert subs('strbefore(?o, "") = ""') == sorted(all_s)
    assert subs('strafter(?o, "") = ?o') == sorted(all_s)
    # absent needle: both -> ""
    assert subs('strafter(?o, "zzz") = ""') == sorted(all_s)
    # XPath fn:round: half toward +inf; try_cast drops non-numerics
    assert subs("round(?o) = -2") == ["b"]
    assert subs("ceil(?o) = 4") == ["c"]
    assert subs("floor(?o) = 3") == ["c"]
    assert subs("round(?o) >= -100") == ["b", "c"]
    # date parts over try_cast(timestamp); noon mid-month is stable
    # for YEAR/MONTH/DAY under any session timezone offset
    assert subs("year(?o) = 2024 && month(?o) = 6 && day(?o) = 15") == ["e"]
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        assert subs(
            "hours(?o) = 12 && minutes(?o) = 30 && seconds(?o) = 45"
        ) == ["e"]
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    # REPLACE is regex replacement (XPath fn:replace)
    assert subs('replace(?o, "[aeiou]", "_") = "h_ll_ w_rld"') == ["a"]
    # ENCODE_FOR_URI: space -> %20, '*' -> %2A, '~' kept
    assert subs('encode_for_uri(?o) = "hello%20world"') == ["a"]
    assert subs('encode_for_uri(?o) = "a~b%2Ac"') == ["f"]
    # hashes (lowercase hex, per spec examples)
    md5 = hashlib.md5(b"hello world").hexdigest()
    s256 = hashlib.sha256(b"hello world").hexdigest()
    s1 = hashlib.sha1(b"-2.5").hexdigest()
    assert subs(f'md5(?o) = "{md5}"') == ["a"]
    assert subs(f'sha256(?o) = "{s256}"') == ["a"]
    assert subs(f'sha1(?o) = "{s1}"') == ["b"]
    # composite operands evaluate: every built-in composes at any depth
    assert subs("round(strlen(?o)) = 11") == ["a"]
    assert subs('strbefore(?o, ?o) = ""') == sorted(all_s)
    assert subs('strbefore(ucase(?o), " ") = "HELLO"') == ["a"]
    # ... and so do aggregates over them, in HAVING
    got = select_text(
        t,
        "select ?s { ?s ?p ?o } group by ?s "
        "having(sum(strlen(ucase(?o))) > 4) order by ?s",
    ).collect()
    assert [r["s"] for r in got] == ["a", "d", "e", "f"]
    # quoted text containing a call shape is data, not a built-in
    assert subs('?o != "round(1)"') == sorted(all_s)


def test_sameterm_builtin(spark):
    """sameTerm compares TERM identity through the metadata companions:
    equal lexical forms with different datatype / lang / kind are
    different terms; a simple literal and an explicit xsd:string
    literal are the SAME term (RDF 1.1)."""
    xs = "http://www.w3.org/2001/XMLSchema#string"
    rows = [
        # s, p, o, o_kind, o_datatype, o_lang
        ("s1", "http://x/p", "plain", "literal", None, None),
        ("s2", "http://x/p", "plain", "literal", xs, None),
        ("s3", "http://x/p", "plain", "literal",
         "http://www.w3.org/2001/XMLSchema#token", None),
        ("s4", "http://x/p", "plain", "literal", None, "en"),
        ("s5", "http://x/p", "http://x/plain", "uri", None, None),
    ]
    schema = (
        "s string, p string, o string, o_kind string, "
        "o_datatype string, o_lang string"
    )
    from pyspark.sql import functions as F

    t = spark.createDataFrame(rows, schema).withColumn(
        "dataset", F.lit("d")
    )
    base = "select ?s { ?s ?p ?o filter(%s) }"

    def subs(f):
        return sorted(r["s"] for r in select_text(t, base % f).collect())

    # literal form: simple literal == xsd:string literal, token/lang differ
    assert subs('sameTerm(?o, "plain")') == ["s1", "s2"]
    # var-var form: join the table against itself on two variables
    pairs = select_text(
        t,
        "select ?a ?b { ?a ?p ?x . ?b ?p ?y . filter(sameTerm(?x, ?y)) }",
    ).collect()
    got = sorted((r["a"], r["b"]) for r in pairs)
    # s1<->s2 match each other (same term), everything matches itself
    assert ("s1", "s2") in got and ("s2", "s1") in got
    assert ("s1", "s3") not in got and ("s3", "s4") not in got
    assert ("s1", "s4") not in got and ("s4", "s5") not in got
    assert all((s, s) in got for s in ("s1", "s2", "s3", "s4", "s5"))


def test_construct_where_shorthand(spark):
    """CONSTRUCT WHERE { ... } (§10.2.2): the WHERE group is the
    template; term metadata carries through; anything beyond plain
    triple patterns is refused."""
    from pyspark.sql import functions as F

    t = spark.createDataFrame(
        [
            ("u:a", "p:x", "u:b", "uri", None, None),
            ("u:b", "p:y", "lit", "literal", None, None),
        ],
        "s string, p string, o string, o_kind string, "
        "o_datatype string, o_lang string",
    ).withColumn("dataset", F.lit("d"))
    out = select_text(t, "construct where { ?s ?p ?o }").collect()
    assert sorted((r["s"], r["p"], r["o"], r["o_kind"]) for r in out) == [
        ("u:a", "p:x", "u:b", "uri"),
        ("u:b", "p:y", "lit", "literal"),
    ]
    q = parse_select("construct where { ?s a ?o }")
    assert q.construct[0][1][0].endswith("#type")
    with pytest.raises(SparqlSyntaxError):
        parse_select("construct where { ?s ?p ?o filter(?o > 1) }")
    with pytest.raises(SparqlSyntaxError):
        parse_select("construct where { ?s ?p ?o optional { ?s ?q ?z } }")


def test_regex_replace_flags_and_tz(spark):
    """Flag-carrying REGEX/REPLACE fold the XPath flags into a
    Java-regex embedded prefix inside the pattern literal (i/s/m/x
    share semantics across both engines; 'q' has no embedded form and
    is a loud 400); TZ() extracts the lexical timezone string — "Z",
    "+05:00", or "" when the form carries none."""
    from pyspark.sql import functions as F

    rows = [
        ("a", "Hello World"),
        ("b", "2024-06-15T12:30:45Z"),
        ("c", "2024-06-15T12:30:45+05:00"),
        ("d", "2024-06-15T12:30:45"),
    ]
    t = (
        spark.createDataFrame(rows, "s string, o string")
        .select("s", F.lit("http://x/p").alias("p"), "o")
        .withColumn("dataset", F.lit("d"))
    )

    def subs(f):
        q = "select ?s { ?s ?p ?o filter(%s) }" % f
        return sorted(r["s"] for r in select_text(t, q).collect())

    # case-insensitive REGEX via the FLAGS argument
    assert subs('regex(?o, "^hello", "i")') == ["a"]
    assert subs('regex(?o, "^hello")') == []
    # 4-arg REPLACE: flags fold the same way
    assert subs('replace(?o, "HELLO", "bye", "i") = "bye World"') == ["a"]
    # empty flags literal is a no-op fold
    assert subs('regex(?o, "^Hello", "")') == ["a"]
    with pytest.raises(SparqlSyntaxError, match="REGEX flag"):
        subs('regex(?o, "^hello", "q")')
    # TZ over the lexical form
    assert subs('tz(?o) = "Z"') == ["b"]
    assert subs('tz(?o) = "+05:00"') == ["c"]
    assert subs('tz(?o) = ""') == ["a", "d"]
    # TIMEZONE (xsd:dayTimeDuration) is a named refusal pointing at TZ
    with pytest.raises(SparqlSyntaxError, match="TIMEZONE"):
        subs("timezone(?o) = ?o")


def test_nondeterministic_builtins_refused(spark, catalog):
    """RAND/NOW/UUID/STRUUID/BNODE are nondeterministic: a solution
    must be reproducible across retried Spark tasks, so they refuse at
    parse time (a 400 at the endpoint) with an explanatory message."""
    for form in (
        "filter(rand() < 0.5)",
        "filter(?m < now())",
        "bind(uuid() as ?u)",
        "bind(struuid() as ?u)",
        "bind(bnode() as ?b)",
    ):
        with pytest.raises(SparqlSyntaxError, match="nondeterministic"):
            parse_select("select * { ?d ?p ?m %s }" % form)


def test_isblank_false_over_engine_tables(spark):
    """isBlank(): the converter mints URIs for every node, so no blank
    node survives to the triple table — isBlank is constantly false
    over engine-built data but still evaluates the model's kind
    column (URI and literal objects both fail the test)."""
    from pyspark.sql import functions as F

    t = spark.createDataFrame(
        [
            ("http://x/a", "http://x/p", "http://x/b", "uri", None, None),
            ("http://x/a", "http://x/q", "42", "literal", None, None),
        ],
        "s string, p string, o string, o_kind string, "
        "o_datatype string, o_lang string",
    ).withColumn("dataset", F.lit("d"))
    got = select_text(
        t, "select ?o { ?s ?p ?o filter(isBlank(?o)) }"
    ).collect()
    assert got == []
    got = select_text(
        t, "select ?o { ?s ?p ?o filter(!isBlank(?o)) }"
    ).collect()
    assert len(got) == 2


def test_bind_term_constructors(spark):
    """IRI/STRLANG/STRDT at the top level of BIND construct a typed
    term: the value column is the inner expression's lexical form and
    the constructed kind/datatype/lang ride along as companions —
    visible to LANG()/DATATYPE()/isURI() downstream and to the REST
    layer's W3C term typing."""
    from pyspark.sql import functions as F

    t = spark.createDataFrame(
        [
            ("http://x/a", "http://x/name", "alpha", "literal",
             None, None),
        ],
        "s string, p string, o string, o_kind string, "
        "o_datatype string, o_lang string",
    ).withColumn("dataset", F.lit("d"))

    # IRI(): kind=uri, visible to a downstream isURI filter
    got = select_text(
        t,
        'select ?u { ?s <http://x/name> ?o '
        'bind(iri(concat("http://y/", ?o)) as ?u) '
        "filter(isURI(?u)) }",
        with_kinds=True,
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert r["u"] == "http://y/alpha" and r["u__kind"] == "uri"

    # STRLANG(): lang tag set, LANG() sees it
    got = select_text(
        t,
        "select ?l ?tag { ?s <http://x/name> ?o "
        'bind(strlang(?o, "en-GB") as ?l) bind(lang(?l) as ?tag) }',
        with_kinds=True,
    ).collect()
    r = got[0]
    assert r["l"] == "alpha" and r["l__lang"] == "en-GB"
    assert r["tag"] == "en-GB"

    # STRDT(): datatype set (prefixed name expands), DATATYPE() sees it
    got = select_text(
        t,
        "select ?v ?dt { ?s <http://x/name> ?o "
        "bind(strdt(?o, xsd:token) as ?v) bind(datatype(?v) as ?dt) }",
        with_kinds=True,
    ).collect()
    r = got[0]
    assert r["v"] == "alpha"
    assert r["v__datatype"].endswith("XMLSchema#token")
    assert r["dt"].endswith("XMLSchema#token")

    # plain BIND under with_kinds: NULL companions = plain literal —
    # LANG() returns "" instead of failing name resolution
    got = select_text(
        t,
        "select ?w ?wl { ?s <http://x/name> ?o "
        'bind(concat(?o, "!") as ?w) bind(lang(?w) as ?wl) }',
        with_kinds=True,
    ).collect()
    r = got[0]
    assert r["w"] == "alpha!" and r["w__kind"] is None and r["wl"] == ""

    # constructors OUTSIDE a BIND top level stay loud
    with pytest.raises(SparqlSyntaxError, match="BIND"):
        parse_select("select * { ?s ?p ?o filter(iri(?o) = ?s) }")


def test_w3c_typing_of_constructed_terms(spark):
    """The REST serializer types constructor-bound variables from the
    attached companions: IRI() comes back as a uri binding even though
    BIND-born values used to fall to the http:// heuristic, and
    STRLANG carries xml:lang."""
    from pyspark.sql import functions as F

    from linkedspending_spark.rest import _w3c_results

    t = spark.createDataFrame(
        [
            ("http://x/a", "http://x/name", "alpha", "literal",
             None, None),
        ],
        "s string, p string, o string, o_kind string, "
        "o_datatype string, o_lang string",
    ).withColumn("dataset", F.lit("d"))
    df = select_text(
        t,
        "select ?u ?l { ?s <http://x/name> ?o "
        'bind(iri(concat("http://y/", ?o)) as ?u) '
        'bind(strlang(?o, "en") as ?l) }',
        with_kinds=True,
    )
    out = _w3c_results(df.columns, [r.asDict() for r in df.collect()])
    assert out["head"]["vars"] == ["u", "l"]
    b = out["results"]["bindings"][0]
    assert b["u"] == {"type": "uri", "value": "http://y/alpha"}
    assert b["l"] == {"type": "literal", "value": "alpha",
                      "xml:lang": "en"}


def test_expression_aggregates(spark):
    """Aggregates over EXPRESSIONS — SUM(?a * ?b), COUNT(strlen(?x)) —
    evaluate the operand as a hidden reserved-name BIND and aggregate
    its native column type: integer expressions sum as long
    (xsd:integer in W3C output), fractional as double. try_cast is the
    documented escape hatch for malformed operands (error-drop); raw
    arithmetic over a dirty lexical form is an error for its row, so
    the aggregate skips it."""
    from pyspark.sql import functions as F

    t = spark.createDataFrame(
        [("a", "p", "2"), ("a", "p", "3"), ("b", "p", "4"), ("b", "q", "x")],
        "s string, p string, o string",
    ).withColumn("dataset", F.lit("d"))

    got = select_text(
        t,
        "select ?s (sum(?o * 2) as ?x) { ?s <p> ?o } "
        "group by ?s order by ?s",
    )
    assert [tuple(r) for r in got.collect()] == [("a", 10), ("b", 8)]
    assert dict(got.dtypes)["x"] == "bigint"  # integer expr sums long

    got = select_text(t, "select (avg(?o * 10) as ?x) { ?s <p> ?o }")
    assert [tuple(r) for r in got.collect()] == [(30.0,)]

    # error-drop via the try_cast escape hatch: 'x' -> NULL -> ignored
    got = select_text(
        t,
        "select (sum(try_cast(?o as double) * 0.5) as ?x) { ?s ?p ?o }",
    ).collect()
    assert got[0]["x"] == 4.5

    # built-ins compose inside the operand
    got = select_text(
        t,
        "select ?s (sum(strlen(?o)) as ?x) { ?s ?p ?o } "
        "group by ?s order by ?s",
    ).collect()
    assert [tuple(r) for r in got] == [("a", 2), ("b", 2)]

    # the hidden column never leaks into the output
    got = select_text(
        t, "select (max(?o * 1) as ?x) { ?s <p> ?o }"
    )
    assert got.columns == ["x"]

    # DISTINCT over an expression stays a loud parse error
    with pytest.raises(SparqlSyntaxError, match="DISTINCT"):
        parse_select("select (sum(distinct ?o * 2) as ?x) { ?s ?p ?o }")


def test_having_expression_aggregates(spark):
    """Direct-form HAVING admits EXPRESSION operands too —
    HAVING(SUM(?o * 2) > 5) — via the same hidden-BIND machinery, at
    any nesting depth (SUM(strlen(?x)))."""
    from pyspark.sql import functions as F

    t = spark.createDataFrame(
        [("a", "p", "2"), ("a", "p", "3"), ("b", "p", "4"), ("c", "p", "1")],
        "s string, p string, o string",
    ).withColumn("dataset", F.lit("d"))
    got = select_text(
        t,
        "select ?s { ?s ?p ?o } group by ?s "
        "having(sum(?o * 2) > 5) order by ?s",
    ).collect()
    assert [r["s"] for r in got] == ["a", "b"]
    got = select_text(
        t,
        "select ?s { ?s ?p ?o } group by ?s "
        "having(sum(strlen(?o)) >= 2) order by ?s",
    ).collect()
    assert [r["s"] for r in got] == ["a"]


def test_order_by_expressions(spark):
    """ORDER BY takes expression keys — bare BUILTIN(...) calls,
    parenthesized expressions, ASC/DESC over either — via hidden BIND
    columns evaluated over full solutions and dropped from the output
    (SELECT * never leaks them). Under DISTINCT the key recomputes
    over the PROJECTED solutions, so it may only reference projected
    variables (the spec's ORDER-keys-must-be-projected restriction,
    applied to the expression's inputs); trailing VALUES after ORDER
    BY still parses (keyword excluded by name)."""
    from pyspark.sql import functions as F

    t = spark.createDataFrame(
        [("a", "p", "xx"), ("b", "p", "y"), ("c", "p", "zzz")],
        "s string, p string, o string",
    ).withColumn("dataset", F.lit("d"))

    got = select_text(t, "select ?s { ?s ?p ?o } order by strlen(?o)")
    assert [r["s"] for r in got.collect()] == ["b", "a", "c"]
    got = select_text(
        t, "select * { ?s ?p ?o } order by desc(strlen(?o))"
    )
    assert got.columns == ["s", "p", "o"]  # no hidden-key leak
    assert [r["s"] for r in got.collect()] == ["c", "a", "b"]
    # DISTINCT + expression over a PROJECTED variable: recomputed
    # post-dedup, never leaked into the output
    got = select_text(
        t, "select distinct ?o { ?s ?p ?o } order by desc(strlen(?o))"
    )
    assert got.columns == ["o"]
    assert [r["o"] for r in got.collect()] == ["zzz", "xx", "y"]
    # ... but an expression key reading a NON-projected variable
    # refuses (the spec's projected-keys restriction)
    with pytest.raises(SparqlSyntaxError, match="not projected"):
        select_text(
            t, "select distinct ?s { ?s ?p ?o } order by strlen(?o)"
        ).collect()
    # trailing VALUES still follows ORDER BY
    got = select_text(
        t,
        "select ?s { ?s ?p ?o } order by strlen(?o) "
        'values ?s { "a" "c" }',
    ).collect()
    assert [r["s"] for r in got] == ["a", "c"]


def test_strbefore_strafter_variable_needle(spark):
    """STRBEFORE/STRAFTER take a VARIABLE needle too (round 5): the
    rewrite carries instr + length over the needle column."""
    from pyspark.sql import functions as F

    t = spark.createDataFrame(
        [("a", "-", "x-y"), ("b", "=", "k=v"), ("c", ":", "noseparator")],
        "s string, p string, o string",
    ).withColumn("dataset", F.lit("d"))
    got = select_text(
        t,
        "select ?s (strafter(?o, ?p) as ?tail) "
        "(strbefore(?o, ?p) as ?head) { ?s ?p ?o } order by ?s",
    ).collect()
    assert [(r["s"], r["head"], r["tail"]) for r in got] == [
        ("a", "x", "y"),
        ("b", "k", "v"),
        ("c", "", ""),  # needle absent -> "" per 17.4.3.4
    ]


def test_from_and_from_named(spark):
    """SPARQL 13.2 dataset description: FROM graphs merge into the
    default graph (partition-set scope), a URI outside the graph
    namespace merges the empty graph, FROM NAMED alone leaves an EMPTY
    default graph, and GRAPH clauses address exactly the FROM NAMED
    set (constant outside it = empty graph; ?g ranges over the set)."""
    G = M.PREFIX_GRAPH
    t = spark.createDataFrame(
        [("s1", "p", "a", "g1"), ("s2", "p", "b", "g2"),
         ("s3", "p", "c", "g3")],
        "s string, p string, o string, dataset string",
    )

    def vals(q):
        return sorted(r["o"] for r in select_text(t, q).collect())

    assert vals(f"select ?o FROM <{G}g1> {{ ?s <p> ?o }}") == ["a"]
    assert vals(
        f"select ?o FROM <{G}g1> FROM <{G}g3> {{ ?s <p> ?o }}"
    ) == ["a", "c"]
    assert vals("select ?o FROM <http://elsewhere/g> { ?s <p> ?o }") == []
    assert vals(f"select ?o FROM NAMED <{G}g2> {{ ?s <p> ?o }}") == []
    assert vals(
        f"select ?o FROM NAMED <{G}g2> {{ graph <{G}g2> {{ ?s <p> ?o }} }}"
    ) == ["b"]
    assert vals(
        f"select ?o FROM NAMED <{G}g2> {{ graph <{G}g1> {{ ?s <p> ?o }} }}"
    ) == []
    got = select_text(
        t,
        f"select ?g ?o FROM NAMED <{G}g2> FROM NAMED <{G}g3> "
        "{ graph ?g { ?s <p> ?o } }",
    ).collect()
    assert sorted((r["g"], r["o"]) for r in got) == [
        (G + "g2", "b"), (G + "g3", "c"),
    ]
    # default-graph scope + named graphs compose across a UNION
    assert vals(
        f"select ?o FROM <{G}g1> FROM NAMED <{G}g2> "
        "{ { ?s <p> ?o } union { graph ?g { ?x <p> ?o } } }"
    ) == ["a", "b"]
    # refusals: subquery FROM; FROM + the serving dataset= scope
    with pytest.raises(SparqlSyntaxError, match="subquery"):
        parse_select("select ?o { { select ?o FROM <http://g> { ?s <p> ?o } } }")
    with pytest.raises(SparqlSyntaxError, match="serving scope"):
        select_text(
            t, f"select ?o FROM <{G}g1> {{ ?s <p> ?o }}", dataset="g1"
        )


def test_from_partition_pruning(spark, tmp_path):
    """A FROM graph set reaches the scan as a partition filter over the
    dataset column (and the bucket column when the layout is bucketed) —
    the merged default graph is a pruned scan, not a post-filter."""
    from pyspark.sql import functions as F

    from linkedspending_spark.jobs import bucket_of

    G = M.PREFIX_GRAPH
    t = spark.createDataFrame(
        [("s%d" % i, "p", "o%d" % i, "g%d" % (i % 4)) for i in range(20)],
        "s string, p string, o string, dataset string",
    ).withColumn("bucket", bucket_of(F.col("dataset"), 4))
    pq = str(tmp_path / "pq")
    t.write.partitionBy("bucket").parquet(pq)
    table = spark.read.parquet(pq)
    df = select_text(
        table, f"select ?o FROM <{G}g1> FROM <{G}g2> {{ ?s <p> ?o }}",
        n_buckets=4,
    )
    plan = plan_of(df)
    assert "PartitionFilters" in plan
    assert df.count() == 10


def test_distinct_aggregates(spark):
    """SUM/AVG(DISTINCT ?x) aggregate over the deduped operand
    multiset (Spark native distinct aggregates; integer typing
    preserved); MIN/MAX/SAMPLE accept DISTINCT and ignore it (dedup
    cannot change an extremum), per the spec's definitions."""
    from pyspark.sql import functions as F

    t = spark.createDataFrame(
        [("a", "p", "2"), ("a", "p", "2"), ("a", "p", "3"),
         ("a", "q", "x")],
        "s string, p string, o string",
    ).withColumn("dataset", F.lit("d"))
    got = select_text(
        t,
        "select (sum(distinct ?o) as ?sd) (sum(?o) as ?sa) "
        "(avg(distinct ?o) as ?ad) (min(distinct ?o) as ?m) "
        "{ ?s <p> ?o }",
    )
    r = got.collect()[0]
    assert r["sd"] == 5 and r["sa"] == 7  # 2+3 vs 2+2+3
    assert r["ad"] == 2.5 and r["m"] == "2"
    assert dict(got.dtypes)["sd"] == "bigint"  # integer typing kept
    # HAVING direct form takes DISTINCT too
    got = select_text(
        t,
        "select ?s { ?s <p> ?o } group by ?s "
        "having(sum(distinct ?o) = 5)",
    ).collect()
    assert [r["s"] for r in got] == ["a"]
    # COUNT(DISTINCT *) counts distinct SOLUTIONS (the duplicate
    # ("a","p","2") row collapses), where COUNT(*) counts all
    got = select_text(
        t,
        "select (count(distinct *) as ?d) (count(*) as ?n) "
        "{ ?s ?p ?o }",
    ).collect()[0]
    assert (got["d"], got["n"]) == (3, 4)


def test_distinct_with_aggregation(spark):
    """SELECT DISTINCT + aggregation: DISTINCT dedups the PROJECTED
    rows after grouping (spec modifier order) — it changes the result
    exactly when the projection drops some GROUP BY variable."""
    from pyspark.sql import functions as F

    t = spark.createDataFrame(
        [("a", "p", "1"), ("a", "p", "2"), ("b", "p", "1"),
         ("b", "q", "3"), ("c", "q", "4")],
        "s string, p string, o string",
    ).withColumn("dataset", F.lit("d"))
    # grouped by (?s, ?p) but projecting ?p only: 4 groups → 2 rows
    got = select_text(
        t, "select distinct ?p { ?s ?p ?o } group by ?s ?p"
    )
    assert sorted(r["p"] for r in got.collect()) == ["p", "q"]
    # projecting an aggregate alias only: counts 2,1,1,1 → {2,1}
    got = select_text(
        t,
        "select distinct (count(?o) as ?n) { ?s ?p ?o } group by ?s ?p",
    )
    assert sorted(r["n"] for r in got.collect()) == [1, 2]
    # DISTINCT over the full (group var, aggregate) projection is a
    # no-op — grouping already yields one row per group
    got = select_text(
        t,
        "select distinct ?s (count(?o) as ?n) { ?s ?p ?o } group by ?s",
    )
    assert sorted((r["s"], r["n"]) for r in got.collect()) == [
        ("a", 2), ("b", 2), ("c", 1)
    ]
    # ORDER BY an aggregate alias composes with DISTINCT (alias is a
    # projected column)
    got = select_text(
        t,
        "select distinct (count(?o) as ?n) { ?s ?p ?o } group by ?s ?p "
        "order by desc(?n)",
    ).collect()
    assert [r["n"] for r in got] == [2, 1]


def test_order_by_expressions_with_aggregation(spark):
    """ORDER BY expression keys over GROUPED solutions: the hidden
    key recomputes AFTER aggregation, so it may reference grouped
    variables and aggregate aliases; a non-grouped variable in the
    key refuses with the grouped-nor-aggregated message."""
    from pyspark.sql import functions as F

    t = spark.createDataFrame(
        [("aa", "p", "1"), ("aa", "p", "2"), ("z", "p", "3"),
         ("mmm", "q", "4")],
        "s string, p string, o string",
    ).withColumn("dataset", F.lit("d"))
    # expression over the grouped variable
    got = select_text(
        t,
        "select ?s (count(?o) as ?n) { ?s ?p ?o } group by ?s "
        "order by strlen(?s)",
    ).collect()
    assert [r["s"] for r in got] == ["z", "aa", "mmm"]
    # expression over an aggregate alias (0 - ?n = descending count)
    got = select_text(
        t,
        "select ?s (count(?o) as ?n) { ?s ?p ?o } group by ?s "
        "order by (0 - ?n) strlen(?s)",
    ).collect()
    assert [r["s"] for r in got] == ["aa", "z", "mmm"]
    # hidden keys never leak
    assert [c for c in ("__ordx0",) if c in
            select_text(t, "select ?s (count(?o) as ?n) { ?s ?p ?o } "
                        "group by ?s order by strlen(?s)").columns] == []
    # an expression key may read a SELECT-expression alias (the key
    # recomputes after select_exprs apply), with or without DISTINCT
    got = select_text(
        t,
        "select (strlen(?s) as ?l) { ?s ?p ?o } order by desc(?l * 2)",
    )
    assert got.columns == ["l"]
    assert [r["l"] for r in got.collect()] == [3, 2, 2, 1]
    got = select_text(
        t,
        "select distinct (strlen(?s) as ?l) { ?s ?p ?o } "
        "order by (0 - ?l)",
    ).collect()
    assert [r["l"] for r in got] == [3, 2, 1]
    with pytest.raises(SparqlSyntaxError, match="grouped nor aggregated"):
        select_text(
            t,
            "select ?s (count(?o) as ?n) { ?s ?p ?o } group by ?s "
            "order by strlen(?o)",
        ).collect()


def test_order_by_aggregate_keys(spark):
    """Aggregate calls in ORDER BY (``ORDER BY DESC(COUNT(?x))``)
    rewrite to hidden aggregate aliases (the HAVING direct-form
    machinery) computed alongside the SELECT aggregates and read by
    the recomputed expression key — even when the SELECT clause has
    no aggregate of its own (using one forces grouping per spec)."""
    from pyspark.sql import functions as F

    t = spark.createDataFrame(
        [("a", "p", "1"), ("a", "p", "2"), ("a", "q", "9"),
         ("b", "p", "3"), ("c", "q", "4"), ("c", "q", "5")],
        "s string, p string, o string",
    ).withColumn("dataset", F.lit("d"))
    # plain aggregate key, no SELECT aggregate
    got = select_text(
        t, "select ?s { ?s ?p ?o } group by ?s order by desc(count(?o))"
    )
    assert got.columns == ["s"]  # hidden alias never leaks
    assert [r["s"] for r in got.collect()] == ["a", "c", "b"]
    # aggregate inside a larger expression, plus a SELECT aggregate
    got = select_text(
        t,
        "select ?s (min(?o) as ?m) { ?s ?p ?o } group by ?s "
        "order by (0 - count(?o)) ?s",
    )
    assert got.columns == ["s", "m"]
    assert [(r["s"], r["m"]) for r in got.collect()] == [
        ("a", "1"), ("c", "4"), ("b", "3")
    ]
    # HAVING and ORDER BY aggregate keys compose (independent hidden
    # aliases)
    got = select_text(
        t,
        "select ?s { ?s ?p ?o } group by ?s "
        "having(count(?o) > 1) order by desc(sum(?o)) ",
    ).collect()
    assert [r["s"] for r in got] == ["a", "c"]  # sums 12 vs 9
    # DISTINCT + hidden aggregate key refuses with the alias hint
    with pytest.raises(SparqlSyntaxError, match="projected alias"):
        select_text(
            t,
            "select distinct ?s { ?s ?p ?o } group by ?s "
            "order by desc(count(?o))",
        ).collect()


def test_group_by_expressions(spark):
    """GroupCondition's expression forms: ``GROUP BY (expr AS ?v)``
    (alias projectable, usable in HAVING/ORDER BY), ``GROUP BY
    (expr)`` / bare ``BUILTIN(...)`` (hidden reserved key, groupable
    but unprojectable). The expression evaluates as a pre-aggregation
    hidden BIND."""
    from pyspark.sql import functions as F

    t = spark.createDataFrame(
        [("a", "p", "2023-05-01"), ("b", "p", "2023-07-09"),
         ("c", "p", "2024-01-01")],
        "s string, p string, o string",
    ).withColumn("dataset", F.lit("d"))
    got = select_text(
        t,
        "select ?y (count(?o) as ?n) { ?s <p> ?o } "
        "group by (substr(?o, 1, 4) as ?y) order by ?y",
    )
    assert got.columns == ["y", "n"]
    assert [(r["y"], r["n"]) for r in got.collect()] == [
        ("2023", 2), ("2024", 1)
    ]
    # bare builtin key: hidden, groupable, never leaks
    got = select_text(
        t,
        "select (count(?o) as ?n) { ?s ?p ?o } group by strlen(?o)",
    )
    assert got.columns == ["n"]
    assert [r["n"] for r in got.collect()] == [3]  # all len 10
    # HAVING + ORDER BY see the alias
    got = select_text(
        t,
        "select ?y { ?s <p> ?o } group by (substr(?o, 1, 4) as ?y) "
        'having(?y = "2023") order by ?y',
    ).collect()
    assert [r["y"] for r in got] == ["2023"]
    # projecting a variable the hidden key derives from still refuses
    with pytest.raises(SparqlSyntaxError, match="grouped nor aggregated"):
        parse_select(
            "select ?o { ?s ?p ?o } group by strlen(?o)"
        )
    # (expr AS ?v) refuses to rebind a pattern variable downstream
    with pytest.raises(Exception, match="rebind|twice"):
        select_text(
            t,
            "select ?o { ?s ?p ?o } group by (strlen(?o) as ?o)",
        ).collect()


def test_select_expression_aggregates(spark):
    """Aggregates EMBEDDED in SELECT expressions —
    ``(COUNT(?x) * 2 AS ?d)``, ``(SUM(?o) / COUNT(?o) AS ?avg)`` —
    rewrite their calls to hidden aggregate aliases; the expression
    evaluates over the grouped solutions; hidden aliases never leak;
    a pure aggregate item still takes the native typed path."""
    from pyspark.sql import functions as F

    t = spark.createDataFrame(
        [("a", "p", "1"), ("a", "p", "2"), ("b", "p", "6")],
        "s string, p string, o string",
    ).withColumn("dataset", F.lit("d"))
    got = select_text(
        t,
        "select ?s (count(?o) * 2 as ?d) "
        "(try_cast(sum(?o) as double) / count(?o) as ?m) "
        "{ ?s <p> ?o } group by ?s order by ?s",
    )
    assert got.columns == ["s", "d", "m"]
    assert [(r["s"], r["d"], r["m"]) for r in got.collect()] == [
        ("a", 4, 1.5), ("b", 2, 6.0)
    ]
    # global (ungrouped) aggregate expression
    got = select_text(
        t, "select (count(?o) + 1 as ?n) { ?s ?p ?o }"
    ).collect()
    assert [r["n"] for r in got] == [4]
    # a pure expression-OPERAND aggregate still routes natively
    got = select_text(
        t, "select (sum(?o * 2) as ?p2) { ?s <p> ?o }"
    ).collect()
    assert [r["p2"] for r in got] == [18]


def test_update_forms_named_refusal():
    """SPARQL Update verbs refuse with a pointer at the engine's
    mutation surfaces (write_triples / delete_datasets / jobs), not a
    generic parse error."""
    for verb in ("INSERT DATA { <s> <p> <o> }",
                 "DELETE WHERE { ?s ?p ?o }",
                 "DROP GRAPH <http://g>",
                 "CLEAR ALL",
                 "LOAD <http://x> INTO GRAPH <http://g>"):
        with pytest.raises(SparqlSyntaxError, match="Update"):
            parse_select(verb)
