"""SPARQL 1.1 property paths (§9) over the serve algebra.

The reference's endpoint is Jena-backed, so its users can write paths
(Sparql.java:21-29 passes query text straight through); this engine
rewrites them into the existing algebra at parse time — sequences chain
fresh internal variables, inverse swaps the ends, alternation becomes a
UNION group — and quantified steps (``+ *``) evaluate as frontier
closure (serve.path_closure): on the driver over the step's
once-collected edge relation under ``canon.LOCAL_THRESHOLD``, as
lineage-checkpointed distributed rounds (the sameAs connected-components
discipline) above it. A hypothesis property pins both regimes to one
naive closure over random small graphs.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from linkedspending_spark.operators import canon
from linkedspending_spark.sources.local import local_frame
from linkedspending_spark.sparql import (
    SparqlSyntaxError,
    parse_select,
    select_text,
)
from linkedspending_spark.serve import bgp_stats, path_closure
from tools.plan_audit import plan_of

PRE = "PREFIX p: <p:> PREFIX u: <u:> "


@pytest.fixture(scope="module")
def graph(spark):
    """knows-edges a→b→c→d→b (a cycle through b,c,d) + two names."""
    XS = "http://www.w3.org/2001/XMLSchema#string"
    rows = [
        ("u:a", "p:knows", "u:b", "uri", None, None),
        ("u:b", "p:knows", "u:c", "uri", None, None),
        ("u:c", "p:knows", "u:d", "uri", None, None),
        ("u:d", "p:knows", "u:b", "uri", None, None),
        ("u:a", "p:name", "Alice", "literal", XS, None),
        ("u:b", "p:name", "Bob", "literal", XS, None),
        ("u:a", "p:likes", "u:c", "uri", None, None),
    ]
    return spark.createDataFrame(
        rows,
        "s string, p string, o string, o_kind string, "
        "o_datatype string, o_lang string",
    )


def _run(graph, q, **kw):
    return sorted(tuple(r) for r in select_text(graph, PRE + q, **kw).collect())


def test_sequence_keeps_multiplicity(graph):
    """?s knows/name ?n: the chain variable is projected away but its
    solution MULTIPLICITY stays (spec: fresh path variables are not
    in-scope yet duplicates remain) — Bob is reachable twice (a→b,
    d→b)."""
    got = _run(graph, 'SELECT ?n { ?s p:knows/p:name ?n }')
    assert got == [("Bob",), ("Bob",)]


def test_sequence_internal_var_invisible(graph):
    df = select_text(graph, PRE + "SELECT * { ?s p:knows/p:name ?n }")
    assert sorted(df.columns) == ["n", "s"]


def test_inverse(graph):
    assert _run(graph, "SELECT ?s { ?s ^p:knows u:c }") == [("u:d",)]


def test_alternation_is_union(graph):
    got = _run(graph, "SELECT DISTINCT ?o { u:a p:knows|p:likes ?o }")
    assert got == [("u:b",), ("u:c",)]


def test_plus_from_constant_terminates_on_cycle(graph):
    got = _run(graph, "SELECT ?o { u:a p:knows+ ?o }")
    assert got == [("u:b",), ("u:c",), ("u:d",)]


def test_star_adds_zero_length_to_constant(graph):
    got = _run(graph, "SELECT ?o { u:a p:knows* ?o }")
    assert got == [("u:a",), ("u:b",), ("u:c",), ("u:d",)]


def test_star_zero_length_matches_absent_constant(graph):
    """Spec: a zero-length path from a constant matches even when the
    term does not occur in the graph at all."""
    got = _run(graph, "SELECT ?o { u:zz p:knows* ?o }")
    assert got == [("u:zz",)]


def test_zero_or_one_from_constant(graph):
    got = _run(graph, "SELECT ?o { u:a p:knows? ?o }")
    assert got == [("u:a",), ("u:b",)]


def test_plus_var_var_is_pair_closure(graph):
    got = _run(graph, "SELECT ?s ?o { ?s p:knows+ ?o }")
    from_a = {(s, o) for s, o in got if s == "u:a"}
    assert from_a == {("u:a", "u:b"), ("u:a", "u:c"), ("u:a", "u:d")}
    assert len(got) == 12  # 3 (from a) + 3×3 (cycle nodes reach all 3)
    assert ("u:b", "u:b") in got  # cycle: b reaches itself in 3 hops


def test_pair_closure_outgrowing_the_bound_runs_distributed(
    graph, monkeypatch
):
    """4 edges fit a bound of 5; their 12 closure pairs do not, so the
    driver closure stops and the checkpointed rounds answer."""
    want = _run(graph, "SELECT ?s ?o { ?s p:knows+ ?o }")
    monkeypatch.setattr(canon, "LOCAL_THRESHOLD", 5)
    assert _run(graph, "SELECT ?s ?o { ?s p:knows+ ?o }") == want


@pytest.mark.parametrize(
    "q",
    [
        "SELECT ?o { u:a p:knows+ ?o }",
        "SELECT ?s ?o { ?s (p:knows|p:likes)+ ?o }",
        "SELECT ?s ?o { ?s (p:knows/p:knows)* ?o }",
    ],
)
def test_stats_over_the_bound_skip_the_edge_collect(graph, monkeypatch, q):
    """With ``bgp_stats``, an element whose predicate counts exceed the
    bound (4 ``p:knows`` edges, 1 ``p:likes``; bound 3) goes to the
    checkpointed rounds without collecting its edges; under the bound
    the stats change nothing."""
    stats = bgp_stats(graph)
    want = _run(graph, q)
    assert _run(graph, q, stats=stats) == want
    monkeypatch.setattr(canon, "LOCAL_THRESHOLD", 3)

    def no_collect(df, limit=None):
        raise AssertionError("edge relation collected over the bound")

    monkeypatch.setattr(canon, "bounded_rows", no_collect)
    assert _run(graph, q, stats=stats) == want


def test_star_var_var_includes_literal_identity(graph):
    """Zero-length paths pair every graph NODE with itself — including
    literal objects (the spec's ZeroLengthPath over graph terms)."""
    got = _run(graph, "SELECT ?s ?o { ?s p:knows* ?o }")
    assert ("Alice", "Alice") in got
    assert ("u:a", "u:a") in got
    assert len(got) == 15  # 12 closure pairs + identities for a/Alice/Bob


def test_plus_to_constant_reverse_bfs(graph):
    got = _run(graph, "SELECT ?s { ?s p:knows+ u:d }")
    assert got == [("u:a",), ("u:b",), ("u:c",), ("u:d",)]


def test_ask_both_constant_path(graph):
    assert _run(graph, "ASK { u:a p:knows+ u:d }") == [()]
    assert _run(graph, "ASK { u:d p:knows+ u:a }") == []


def test_same_var_closure_finds_cycle_members(graph):
    got = _run(graph, "SELECT ?x { ?x p:knows+ ?x }")
    assert got == [("u:b",), ("u:c",), ("u:d",)]


def test_path_joins_patterns_and_filters(graph):
    got = _run(
        graph,
        'SELECT ?s ?n { ?s p:knows+/p:name ?n FILTER(?n != "Bob") }',
    )
    assert got == []  # only Bob is reachable via knows+ then name
    got = _run(graph, "SELECT ?s ?n { ?s p:knows+/p:name ?n }")
    assert ("u:a", "Bob") in got and ("u:c", "Bob") in got


def test_construct_over_path(graph):
    got = _run(
        graph,
        "CONSTRUCT { ?s p:reaches ?o } WHERE "
        '{ ?s p:knows+ ?o . ?s p:name "Alice" }',
    )
    assert got == [
        ("u:a", "p:reaches", "u:b", "uri", None, None),
        ("u:a", "p:reaches", "u:c", "uri", None, None),
        ("u:a", "p:reaches", "u:d", "uri", None, None),
    ]


def test_with_kinds_types_path_bound_var(graph):
    df = select_text(
        graph,
        PRE + "SELECT ?o { u:a p:knows/p:name ?o }",
        with_kinds=True,
    )
    rows = df.collect()
    assert [r["o"] for r in rows] == ["Bob"]
    assert rows[0]["o__kind"] == "literal"
    assert rows[0]["o__datatype"].endswith("#string")


@pytest.mark.parametrize(
    "q",
    [
        "SELECT ?o { u:a p:knows* ?o }",
        "SELECT ?s { ?s p:knows+ u:d }",
        "SELECT ?s ?o { ?s p:knows+ ?o }",
        "SELECT ?s ?o { ?s p:knows* ?o }",
        "SELECT ?x { ?x p:knows+ ?x }",
    ],
)
def test_with_kinds_types_closure_in_both_regimes(graph, monkeypatch, q):
    """A driver-closed path types only its reached nodes; they get the
    kinds the whole-table map gives in the checkpointed rounds."""
    want = _run(graph, q, with_kinds=True)
    assert ("u:b", "uri", None, None) in {r[-4:] for r in want}
    monkeypatch.setattr(canon, "LOCAL_THRESHOLD", 0)
    assert _run(graph, q, with_kinds=True) == want


def test_bound_zero_closes_an_empty_edge_relation_in_rounds(graph, monkeypatch):
    """A bound of 0 means "distributed" for every caller, an empty edge
    relation included: a ``+`` path over a predicate no triple carries
    takes the checkpointed rounds, not the driver closure, and its
    answer is unchanged (empty)."""
    queries = ("SELECT ?s ?o { ?s p:none+ ?o }", "SELECT ?o { u:a p:none+ ?o }")
    want = [_run(graph, q) for q in queries]
    assert want == [[], []]
    rounds = []
    checkpoint = canon.lineage_checkpoint
    monkeypatch.setattr(
        canon, "lineage_checkpoint", lambda df: rounds.append(df) or checkpoint(df)
    )
    monkeypatch.setattr(canon, "LOCAL_THRESHOLD", 0)
    for q, w in zip(queries, want):
        n = len(rounds)
        assert _run(graph, q) == w
        assert len(rounds) > n, q
    assert canon.bounded_rows(graph.where("p = 'p:none'"), 0) is None


def test_count_star_counts_path_multiplicity(graph):
    got = _run(graph, "SELECT (COUNT(*) AS ?n) { ?s p:knows+ ?o }")
    assert got == [(12,)]


def test_path_paging(graph):
    got = _run(
        graph, "SELECT ?o { u:a p:knows+ ?o } ORDER BY ?o LIMIT 2 OFFSET 1"
    )
    assert got == [("u:c",), ("u:d",)]


def test_path_edge_scan_pushes_predicate(graph, tmp_path):
    """The path's edge scan reaches the parquet source with predicate
    AND seed as pushed filters. Asserted on the ``?`` form — the
    quantified loop's rounds read the same pushed-down scan, but its
    final plan is lineage-checkpointed (RDD scan), so the claim is
    only visible pre-checkpoint."""
    pq_dir = str(tmp_path / "graph")
    graph.write.parquet(pq_dir)
    pq = graph.sparkSession.read.parquet(pq_dir)
    plan = plan_of(path_closure(pq, "u:a", "p:knows", "?o", "?"))
    assert "PushedFilters" in plan
    assert "p:knows" in plan and "u:a" in plan


def test_not_converged_raises(graph, monkeypatch):
    """The ``max_hops`` cap holds for every end shape in both regimes:
    closed on the driver and, with the bound at 0, in checkpointed
    rounds."""
    ends = [("?s", "?o"), ("u:a", "?o"), ("?s", "u:d"), ("u:a", "u:d")]
    for bound in (canon.LOCAL_THRESHOLD, 0):
        monkeypatch.setattr(canon, "LOCAL_THRESHOLD", bound)
        for s, o in ends:
            with pytest.raises(ValueError, match="did not converge"):
                path_closure(
                    graph, s, "p:knows", o, "+", max_hops=1
                ).collect()


# -- property: both regimes against a naive closure ---------------------------

NODES = [f"u:n{i}" for i in range(6)]
ABSENT = "u:n6"  # a constant no triple mentions
LIT = "lit"
SHAPES = ("subject", "object", "both", "var-var", "same-var")


def _naive(edges, quant: str, shape: str, a: str, b: str) -> list[tuple]:
    """First-principles ArbitraryLengthPath over the edge SET: ``+``
    pairs nodes joined by 1..n edges, ``*`` adds each node (a constant
    end even when absent) paired with itself."""
    nodes = {x for e in edges for x in e}

    def reach(x: str) -> set[str]:
        out, frontier = set(), {x}
        while frontier:
            frontier = {v for u, v in edges if u in frontier} - out
            out |= frontier
        return out

    def holds(x: str, y: str) -> bool:
        return y in reach(x) or (quant == "*" and x == y)

    if shape == "subject":
        got = {(y,) for y in reach(a) | ({a} if quant == "*" else set())}
    elif shape == "object":
        got = {(x,) for x in nodes | {b} if holds(x, b)}
    elif shape == "both":
        got = {()} if holds(a, b) else set()
    elif shape == "var-var":
        got = {(x, y) for x in nodes for y in nodes if holds(x, y)}
    else:
        got = {(x,) for x in nodes if holds(x, x)}
    return sorted(got)


def _path_query(quant: str, shape: str, a: str, b: str) -> str:
    step = f"p:knows{quant}"
    return {
        "subject": f"SELECT ?o {{ <{a}> {step} ?o }}",
        "object": f"SELECT ?s {{ ?s {step} <{b}> }}",
        "both": f"ASK {{ <{a}> {step} <{b}> }}",
        "var-var": f"SELECT ?s ?o {{ ?s {step} ?o }}",
        "same-var": f"SELECT ?x {{ ?x {step} ?x }}",
    }[shape]


def _every_shape(test):
    """Pin each quantifier × end shape once on a graph with a cycle, a
    self-loop and a literal, ahead of the random draws."""
    for quant in "+*":
        for shape in SHAPES:
            test = example(
                pairs=[(0, 1), (1, 2), (2, 0), (3, 3), (2, 4)],
                lit_from=4,
                quant=quant,
                shape=shape,
                a=0,
                b=2,
            )(test)
    return test


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 5)), max_size=11
    ),
    lit_from=st.integers(0, 5),
    quant=st.sampled_from("+*"),
    shape=st.sampled_from(SHAPES),
    a=st.integers(0, 6),
    b=st.integers(0, 6),
)
@_every_shape
def test_random_closure_matches_naive_in_both_regimes(
    spark, monkeypatch, pairs, lit_from, quant, shape, a, b
):
    """Random graphs of at most 12 ``p:knows`` edges over 6 nodes —
    cycles, self-loops and one literal object — through
    ``select_text``: the driver closure and the checkpointed rounds
    (bound monkeypatched to 0) return the naive closure's answer."""
    edges = {(NODES[u], NODES[v]) for u, v in pairs}
    edges.add((NODES[lit_from], LIT))
    rows = [
        (u, "p:knows", v, "literal" if v == LIT else "uri", None, None)
        for u, v in sorted(edges)
    ]
    graph = local_frame(
        spark,
        rows,
        "s string, p string, o string, o_kind string, "
        "o_datatype string, o_lang string",
    )
    a, b = (NODES + [ABSENT])[a], (NODES + [ABSENT])[b]
    q = _path_query(quant, shape, a, b)
    want = _naive(edges, quant, shape, a, b)
    assert _run(graph, q) == want, q
    with monkeypatch.context() as m:
        m.setattr(canon, "LOCAL_THRESHOLD", 0)
        assert _run(graph, q) == want, q


@pytest.mark.parametrize(
    "q",
    [
        "SELECT ?s { ?s ?p+ ?o }",  # variable path element
        "SELECT ?s { ?s (p:a+/p:b)+ ?o }",  # nested quantifier
        "SELECT ?s { ?s (!p:a)+ ?o }",  # negated set quantified
        "SELECT ?s { u:a p:a|p:b u:b . ?s p:n ?o }",  # both-const alt
        "SELECT ?x { ?__pp1 p:a ?x }",  # reserved internal prefix
    ],
)
def test_refusals_are_loud(q):
    with pytest.raises(SparqlSyntaxError):
        parse_select(PRE + q)


def test_directly_nested_quantifiers_merge(graph):
    """Directly-nested quantifiers merge algebraically at parse time:
    equal pairs are idempotent ((p+)+ = p+), mixed pairs admit zero
    steps and unbounded repetition — exactly p* ((p+)* = (p?)+ = (p+)?
    = p*). The inverse of a closure normalizes too (^(p+) ≡ (^p)+).
    A quantifier buried inside a composite element ((p+/q)+) stays a
    loud refusal — that genuinely needs closure-within-closure."""
    star = _run(graph, "SELECT ?o { u:a p:knows* ?o }")
    plus = _run(graph, "SELECT ?o { u:a p:knows+ ?o }")
    assert _run(graph, "SELECT ?o { u:a (p:knows+)* ?o }") == star
    assert _run(graph, "SELECT ?o { u:a (p:knows+)? ?o }") == star
    assert _run(graph, "SELECT ?o { u:a (p:knows?)+ ?o }") == star
    assert _run(graph, "SELECT ?o { u:a (p:knows+)+ ?o }") == plus
    # inverse of a closure: ?s such that u:a knows+ ?s
    assert _run(graph, "SELECT ?s { ?s ^(p:knows+) u:a }") == [
        ("u:b",), ("u:c",), ("u:d",)
    ]
    # nested quantifier over a COMPOSITE element merges the same way
    two_star = _run(graph, "SELECT ?o { u:a (p:knows/p:knows)* ?o }")
    assert (
        _run(graph, "SELECT ?o { u:a ((p:knows/p:knows)+)* ?o }")
        == two_star
    )


def test_quantified_paths_inside_minus_and_exists(graph):
    """Quantified/alternation paths work inside MINUS and FILTER
    [NOT] EXISTS bodies — the nested-body machinery evaluates them
    bottom-up (b and d sit on the knows-cycle and reach ?x via
    knows+; a does too; only subjects with names appear)."""
    got = _run(
        graph,
        "SELECT ?n { ?s p:name ?n "
        "FILTER EXISTS { ?s p:knows+ ?x } }",
    )
    assert got == [("Alice",), ("Bob",)]
    got = _run(
        graph,
        "SELECT ?n { ?s p:name ?n MINUS { ?s p:knows+ ?x } }",
    )
    assert got == []  # both named nodes reach something
    got = _run(
        graph,
        "SELECT ?n { ?s p:name ?n "
        "MINUS { ?s p:likes|p:missing ?x } }",
    )
    assert got == [("Bob",)]  # only alice likes


def test_sequence_inside_optional_is_allowed(graph):
    """Sequences/inverses rewrite to plain patterns, so they stay legal
    inside OPTIONAL/UNION — only alternation/quantifiers are group-level."""
    got = _run(
        graph,
        "SELECT ?s ?n { ?s p:name ?n "
        "OPTIONAL { ?s p:knows/p:name ?o } }",
    )
    assert len(got) == 2


def test_quantified_path_inside_optional(graph):
    """A quantified path inside OPTIONAL makes the body a nested-
    algebra group: the closure evaluates inside it and LEFT-joins the
    outer solution (Bob has no p:likes chain → NULL-extended)."""
    got = _run(
        graph,
        "SELECT ?n ?o { ?s p:name ?n OPTIONAL { ?s p:likes+ ?o } }",
    )
    assert got == [("Alice", "u:c"), ("Bob", None)]


def test_quantified_composite_sequence(graph):
    """(p/q)+ iterates the closure over a JOIN-built step relation:
    (knows/knows)+ from u:a reaches exactly the even-hop nodes of the
    a→b→c→d→b cycle."""
    got = _run(graph, "SELECT ?o { u:a (p:knows/p:knows)+ ?o }")
    assert got == [("u:b",), ("u:c",), ("u:d",)]
    # reversed: everything reaches u:b in some even hop count here
    got = _run(graph, "SELECT ?x { ?x (p:knows/p:knows)+ u:b }")
    assert got == [("u:a",), ("u:b",), ("u:c",), ("u:d",)]
    # zero-or-one: the seed itself plus one double-hop
    got = _run(graph, "SELECT ?o { u:a (p:knows/p:knows)? ?o }")
    assert got == [("u:a",), ("u:c",)]


def test_quantified_composite_alternation(graph):
    """(p|q)+ unions the step scans before closing."""
    got = _run(graph, "SELECT ?o { u:a (p:likes|p:knows)+ ?o }")
    assert got == [("u:b",), ("u:c",), ("u:d",)]


def test_quantifier_inside_alternation(graph):
    """p+|q: branches with a quantified member become nested group
    specs (union-by-name); a branch may also feed an enclosing
    sequence chain through its reserved variable."""
    got = _run(graph, "SELECT ?o { u:a p:likes+|p:name ?o }")
    assert got == [("Alice",), ("u:c",)]
    got = _run(graph, "SELECT ?n { u:a (p:likes+|p:knows)/p:name ?n }")
    assert got == [("Bob",)]


def test_alternation_inside_union_branch(graph):
    """Alternation inside a UNION branch: the branch becomes its own
    nested group (its inner UNION evaluates bottom-up)."""
    got = _run(
        graph,
        "SELECT ?o { { u:a p:likes|p:name ?o } UNION { u:b p:name ?o } }",
    )
    assert got == [("Alice",), ("Bob",), ("u:c",)]


# -- blank-node syntax (desugars to the same reserved existentials) ---------


def test_blank_node_object_plist(graph):
    got = _run(graph, 'SELECT ?s { ?s p:knows [ p:name "Bob" ] }')
    assert got == [("u:a",), ("u:d",)]


def test_blank_node_subject_bare_statement(graph):
    got = _run(graph, 'SELECT ?n { [ p:name ?n ; p:knows ?o ] }')
    assert got == [("Alice",), ("Bob",)]


def test_blank_node_subject_with_outer_plist(graph):
    got = _run(graph, "SELECT ?n { [ p:knows u:c ] p:name ?n }")
    assert got == [("Bob",)]


def test_labeled_blank_nodes_corefer(graph):
    got = _run(graph, 'SELECT ?n { _:x p:name ?n . _:x p:knows u:c }')
    assert got == [("Bob",)]


def test_blank_vars_never_projected(graph):
    df = select_text(graph, PRE + "SELECT * { ?s p:knows [ p:name ?n ] }")
    assert sorted(df.columns) == ["n", "s"]


def test_anonymous_empty_subject(graph):
    got = _run(graph, "SELECT DISTINCT ?n { [] p:name ?n }")
    assert got == [("Alice",), ("Bob",)]


def test_nested_blank_nodes(graph):
    # [p:name "Bob"] = u:b; X knows u:b -> X in {a, d}; ?s knows X -> c
    got = _run(
        graph, 'SELECT ?s { ?s p:knows [ p:knows [ p:name "Bob" ] ] }'
    )
    assert got == [("u:c",)]


def test_path_inside_blank_node_plist(graph):
    got = _run(graph, 'SELECT ?s { ?s p:knows [ p:knows/p:name "Bob" ] }')
    assert got == [("u:c",)]


def test_unterminated_blank_node_is_loud():
    with pytest.raises(SparqlSyntaxError, match="expected ']'"):
        parse_select(PRE + "SELECT ?s { ?s p:knows [ p:name ?n }")


# -- negated property sets ---------------------------------------------------


def test_nps_single(graph):
    got = _run(graph, "SELECT ?o { u:a !p:knows ?o }")
    assert got == [("Alice",), ("u:c",)]  # name + likes edges


def test_nps_set(graph):
    got = _run(graph, "SELECT ?o { u:a !(p:knows|p:likes) ?o }")
    assert got == [("Alice",)]


def test_nps_in_sequence(graph):
    # u:a -!knows-> {Alice, u:c}; u:c -knows-> u:d
    got = _run(graph, "SELECT ?o { u:a !p:knows/p:knows ?o }")
    assert got == [("u:d",)]


def test_nps_pushes_not_in(graph, tmp_path):
    pq_dir = str(tmp_path / "nps")
    graph.write.parquet(pq_dir)
    pq = graph.sparkSession.read.parquet(pq_dir)
    plan = plan_of(select_text(pq, PRE + "SELECT ?o { u:a !p:knows ?o }"))
    assert "PushedFilters" in plan and "Not" in plan and "knows" in plan


@pytest.mark.parametrize(
    "q",
    [
        "SELECT ?o { u:a ^!p:knows ?o }",
        "SELECT ?o { u:a !(^p:knows) ?o }",
        "SELECT ?o { u:a !p:knows+ ?o }",
        'SELECT ?o { u:a !(p:a|"x") ?o }',
    ],
)
def test_nps_refusals(q):
    with pytest.raises(SparqlSyntaxError):
        parse_select(PRE + q)
