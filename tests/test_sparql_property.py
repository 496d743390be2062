"""Property test: random BGPs through ``select_text`` vs a naive
first-principles evaluator.

The naive evaluator implements SPARQL BGP semantics directly — match
each pattern against the triple set, unify bindings left to right,
multiset join (disconnected patterns = cross product) — with none of
the engine's machinery (no join ordering, no pushdown, no Spark). Any
disagreement is a bug in the engine's compilation, not the oracle:
twelve rows and three patterns leave nowhere to hide.

Complements the example-based suites: hypothesis explores the corner
shapes nobody writes by hand (repeated variables inside one pattern,
all-constant patterns as existence gates, shared vars across
disconnected components, var-in-predicate-position joins). The same
first-principles evaluation, run per named graph of a quad table,
checks GRAPH ?g over BGP / OPTIONAL / MINUS / FILTER [NOT] EXISTS /
UNION bodies.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from linkedspending_spark.sparql import select_text

SUBJECTS = ["u:s1", "u:s2", "u:s3"]
PREDICATES = ["p:a", "p:b", "p:c"]
OBJECTS = ["u:s1", "u:s2", "lit1", "lit2"]
VARS = ["?x", "?y", "?z"]

#: fixed 12-row triple table (dedup'd set, like the engine's tables) —
#: built once; hypothesis draws only the query shape
ROWS = sorted({
    ("u:s1", "p:a", "u:s2"),
    ("u:s1", "p:a", "lit1"),
    ("u:s1", "p:b", "lit2"),
    ("u:s2", "p:a", "u:s1"),
    ("u:s2", "p:b", "lit1"),
    ("u:s2", "p:c", "u:s3"),
    ("u:s3", "p:a", "u:s3"),
    ("u:s3", "p:c", "lit1"),
    ("u:s3", "p:b", "u:s1"),
    ("u:s1", "p:c", "u:s1"),
    ("u:s2", "p:c", "lit2"),
    ("u:s3", "p:a", "lit2"),
})


@pytest.fixture(scope="module")
def table(spark):
    from pyspark.sql import functions as F

    return spark.createDataFrame(
        ROWS, "s string, p string, o string"
    ).withColumn("dataset", F.lit("g"))


def naive_bgp(patterns: list[tuple[str, str, str]]) -> list[tuple]:
    """First-principles BGP evaluation: fold patterns left to right,
    each solution extended by every compatible triple match. Returns
    the solution MULTISET as sorted tuples over the sorted variable
    names."""
    sols: list[dict] = [{}]
    for s, p, o in patterns:
        new: list[dict] = []
        for mu in sols:
            for ts, tp, to in ROWS:
                ext = dict(mu)
                ok = True
                for term, val in ((s, ts), (p, tp), (o, to)):
                    if term.startswith("?"):
                        v = term[1:]
                        if v in ext and ext[v] != val:
                            ok = False
                            break
                        ext[v] = val
                    elif term != val:
                        ok = False
                        break
                if ok:
                    new.append(ext)
        sols = new
    cols = sorted({v for pat in patterns for t in pat for v in
                   ([t[1:]] if t.startswith("?") else [])})
    return sorted(tuple(mu[c] for c in cols) for mu in sols)


pattern_st = st.tuples(
    st.sampled_from(SUBJECTS + VARS),
    st.sampled_from(PREDICATES + VARS),
    st.sampled_from(OBJECTS + VARS),
)
bgp_st = st.lists(pattern_st, min_size=1, max_size=3).filter(
    # at least one variable somewhere, else SELECT * projects nothing
    lambda ps: any(t.startswith("?") for pat in ps for t in pat)
)


def _to_text(patterns) -> str:
    def w(t: str) -> str:
        if t.startswith("?"):
            return t
        if t.startswith("lit"):
            return f'"{t}"'
        return f"<{t}>"

    body = " . ".join(" ".join(w(t) for t in pat) for pat in patterns)
    return "SELECT * { " + body + " }"


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(patterns=bgp_st)
def test_random_bgp_matches_naive_evaluation(table, patterns):
    df = select_text(table, _to_text(patterns))
    cols = sorted(df.columns)
    got = sorted(tuple(r[c] for c in cols) for r in df.collect())
    assert got == naive_bgp(patterns), _to_text(patterns)


def _naive_sols(patterns) -> list[dict]:
    """BGP solutions as binding dicts (the naive fold, un-projected)."""
    sols: list[dict] = [{}]
    for s, p, o in patterns:
        new: list[dict] = []
        for mu in sols:
            for ts, tp, to in ROWS:
                ext = dict(mu)
                ok = True
                for term, val in ((s, ts), (p, tp), (o, to)):
                    if term.startswith("?"):
                        v = term[1:]
                        if v in ext and ext[v] != val:
                            ok = False
                            break
                        ext[v] = val
                    elif term != val:
                        ok = False
                        break
                if ok:
                    new.append(ext)
        sols = new
    return sols


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    base=st.lists(pattern_st, min_size=1, max_size=2).filter(
        lambda ps: any(t.startswith("?") for pat in ps for t in pat)
    ),
    opt=pattern_st.filter(lambda p: any(t.startswith("?") for t in p)),
)
def test_random_optional_matches_naive_left_join(table, base, opt):
    """SPARQL LeftJoin from first principles: each base solution
    extends by every COMPATIBLE optional match; with none it is KEPT,
    NULL-extended — including the disjoint-domain case (no shared
    variable → every optional row extends every solution)."""
    base_sols = _naive_sols(base)
    opt_sols = _naive_sols([opt])
    base_vars = {t[1:] for pat in base for t in pat if t.startswith("?")}
    opt_vars = {t[1:] for t in opt if t.startswith("?")}
    cols = sorted(base_vars | opt_vars)
    expected = []
    for mu in base_sols:
        exts = [
            m2
            for m2 in opt_sols
            if all(mu.get(k, m2[k]) == m2[k] for k in m2)
        ]
        if exts:
            expected += [{**mu, **m2} for m2 in exts]
        else:
            expected.append(
                {**mu, **{v: None for v in opt_vars - set(mu)}}
            )
    want = sorted(
        (tuple(mu.get(c) for c in cols) for mu in expected),
        key=str,
    )
    q = _to_text(base)[:-1] + " OPTIONAL { " + " ".join(
        (t if t.startswith("?") else
         (f'"{t}"' if t.startswith("lit") else f"<{t}>"))
        for t in opt
    ) + " } }"
    df = select_text(table, q)
    assert sorted(df.columns) == cols, q
    got = sorted(
        (tuple(r[c] for c in cols) for r in df.collect()), key=str
    )
    assert got == want, q


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    base=st.lists(pattern_st, min_size=1, max_size=2).filter(
        lambda ps: any(t.startswith("?") for pat in ps for t in pat)
    ),
    minus=pattern_st,
)
def test_random_minus_matches_naive_semantics(table, base, minus):
    """SPARQL Minus from first principles (§8.3): μ1 is removed iff
    some minus solution is compatible AND shares at least one bound
    variable — the disjoint-domain rule means a minus pattern sharing
    no variable with the base removes NOTHING."""
    base_sols = _naive_sols(base)
    minus_sols = _naive_sols([minus])
    cols = sorted(
        {t[1:] for pat in base for t in pat if t.startswith("?")}
    )
    expected = sorted(
        (
            tuple(mu[c] for c in cols)
            for mu in base_sols
            if not any(
                set(mu) & set(m2)
                and all(mu[k] == m2[k] for k in set(mu) & set(m2))
                for m2 in minus_sols
            )
        ),
        key=str,
    )
    q = _to_text(base)[:-1] + " MINUS { " + " ".join(
        (t if t.startswith("?") else
         (f'"{t}"' if t.startswith("lit") else f"<{t}>"))
        for t in minus
    ) + " } }"
    df = select_text(table, q)
    got = sorted(
        (tuple(r[c] for c in sorted(df.columns)) for r in df.collect()),
        key=str,
    )
    assert got == expected, q


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    left=pattern_st.filter(lambda p: any(t.startswith("?") for t in p)),
    right=pattern_st.filter(lambda p: any(t.startswith("?") for t in p)),
)
def test_random_union_matches_naive_semantics(table, left, right):
    """SPARQL Union from first principles (§8.2): the solution
    multisets of both branches, variables a branch does not bind come
    back unbound (NULL)."""

    def w(t: str) -> str:
        if t.startswith("?"):
            return t
        return f'"{t}"' if t.startswith("lit") else f"<{t}>"

    cols = sorted(
        {t[1:] for t in (*left, *right) if t.startswith("?")}
    )
    expected = sorted(
        (
            tuple(mu.get(c) for c in cols)
            for mu in (_naive_sols([left]) + _naive_sols([right]))
        ),
        key=str,
    )
    q = (
        "SELECT * { { " + " ".join(w(t) for t in left)
        + " } UNION { " + " ".join(w(t) for t in right) + " } }"
    )
    df = select_text(table, q)
    assert sorted(df.columns) == cols, q
    got = sorted(
        (tuple(r[c] for c in cols) for r in df.collect()), key=str
    )
    assert got == expected, q


#: the quad table for GRAPH ?g: ROWS spread over three named graphs
#: (dataset partitions), the first four rows also in g2 — so a body's
#: patterns can match in one graph and not in another
QUADS = sorted(
    {(s, p, o, f"g{i % 3 + 1}") for i, (s, p, o) in enumerate(ROWS)}
    | {(s, p, o, "g2") for s, p, o in ROWS[:4]}
)
GRAPHS = sorted({q[3] for q in QUADS})


@pytest.fixture(scope="module")
def quads(spark):
    return spark.createDataFrame(
        QUADS, "s string, p string, o string, dataset string"
    )


def _sols_in(patterns, rows) -> list[dict]:
    """BGP solutions over one graph's triples (the naive fold)."""
    sols: list[dict] = [{}]
    for pat in patterns:
        new: list[dict] = []
        for mu in sols:
            for triple in rows:
                ext, ok = dict(mu), True
                for term, val in zip(pat, triple):
                    if term.startswith("?"):
                        if ext.setdefault(term[1:], val) != val:
                            ok = False
                    elif term != val:
                        ok = False
                if ok:
                    new.append(ext)
        sols = new
    return sols


def _compatible(mu: dict, m2: dict) -> bool:
    return all(mu[k] == m2[k] for k in set(mu) & set(m2))


def _naive_body(op: str, base, other, rows) -> list[dict]:
    """eval(P, G) from first principles for P = base <op> other."""
    b = _sols_in(base, rows)
    o = _sols_in([other], rows)
    if op == "bgp":
        return b
    if op == "optional":
        out = []
        for mu in b:
            exts = [{**mu, **m2} for m2 in o if _compatible(mu, m2)]
            out += exts or [mu]
        return out
    if op == "minus":
        return [
            mu for mu in b
            if not any(set(mu) & set(m2) and _compatible(mu, m2) for m2 in o)
        ]
    if op in ("exists", "not_exists"):
        want = op == "exists"
        return [
            mu for mu in b
            if any(_compatible(mu, m2) for m2 in o) == want
        ]
    return b + o  # union


def _term_text(t: str) -> str:
    if t.startswith("?"):
        return t
    return f'"{t}"' if t.startswith("lit") else f"<{t}>"


def _body_text(op: str, base, other) -> str:
    b = " . ".join(" ".join(map(_term_text, pat)) for pat in base)
    o = " ".join(map(_term_text, other))
    return {
        "bgp": b,
        "optional": f"{b} OPTIONAL {{ {o} }}",
        "minus": f"{b} MINUS {{ {o} }}",
        "exists": f"{b} FILTER EXISTS {{ {o} }}",
        "not_exists": f"{b} FILTER NOT EXISTS {{ {o} }}",
        "union": f"{{ {b} }} UNION {{ {o} }}",
    }[op]


@pytest.mark.parametrize(
    "op", ["bgp", "optional", "minus", "exists", "not_exists", "union"]
)
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    base=st.lists(pattern_st, min_size=1, max_size=2).filter(
        lambda ps: any(t.startswith("?") for pat in ps for t in pat)
    ),
    other=pattern_st.filter(lambda p: any(t.startswith("?") for t in p)),
)
# a MINUS side sharing no variable with its base removes nothing —
# inside GRAPH ?g too, where the active graph is not a shared variable
@example(base=[("?x", "p:a", "?y")], other=("?z", "p:b", "lit1"))
def test_random_graph_var_matches_naive_semantics(quads, op, base, other):
    """SPARQL Graph from first principles (§18.6): GRAPH ?g { P } is
    ⋃_G Join(eval(P, G), {?g → G}) over the named graphs G, for P a
    BGP, BGP OPTIONAL BGP, BGP MINUS BGP, BGP FILTER [NOT] EXISTS BGP
    and BGP UNION BGP — every operator of the body evaluates inside
    one graph, and ?g is not a variable of the body."""
    from linkedspending_spark import model as M

    expected = []
    for g in GRAPHS:
        rows = [q[:3] for q in QUADS if q[3] == g]
        expected += [
            {**mu, "g": M.PREFIX_GRAPH + g}
            for mu in _naive_body(op, base, other, rows)
        ]
    q = "SELECT * { GRAPH ?g { " + _body_text(op, base, other) + " } }"
    df = select_text(quads, q)
    cols = sorted(df.columns)
    want_cols = {"g"} | {
        t[1:] for pat in base for t in pat if t.startswith("?")
    }
    if op in ("optional", "union"):
        want_cols |= {t[1:] for t in other if t.startswith("?")}
    assert cols == sorted(want_cols), q
    got = sorted(
        (tuple(r[c] for c in cols) for r in df.collect()), key=str
    )
    want = sorted(
        (tuple(mu.get(c) for c in cols) for mu in expected), key=str
    )
    assert got == want, q
