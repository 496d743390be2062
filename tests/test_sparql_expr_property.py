"""Property test: random FILTER expressions through ``select_text`` vs a
first-principles Python evaluator of SPARQL's expression semantics.

Hypothesis draws well-typed expression trees over two variables (``?a``
always bound, ``?b`` bound by an OPTIONAL, so sometimes unbound), string
literals from a pool of quoting hazards (backslash, both quotes, a tab,
``?x`` and ``&&`` inside the text), small integers, the operators
``= != < && || !`` and ``+ - *``, and the built-ins STRLEN, UCASE,
CONCAT, CONTAINS, STRSTARTS, SUBSTR, IF and BOUND. The evaluator treats
an error (an unbound variable, a non-numeric lexical form compared with
a number) as SPARQL does: it propagates, ``&&`` / ``||`` absorb it when
the other side decides, and FILTER drops the row. Any disagreement is a
bug in the parser or in ``serve.compile_expr``.

The ``@example`` cases pin the probe cases that the earlier regex → SQL
text → ``F.expr`` translation got wrong (a backslash in an equality, a
regex escape, a lone-backslash needle, SHA256 over a column).
"""

from __future__ import annotations

import hashlib
import re

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from linkedspending_spark.sparql import SparqlSyntaxError, parse_select, select_text

#: subject → (?a, ?b); ?b None = no <p:b> triple (10 triples in all)
ROWS = {
    "s1": ("x\\y", "3"),
    "s2": ("a1", None),
    "s3": ("d", "10"),
    "s4": ("it's \"q\"\t?x && y", "-2"),
    "s5": ("\\", "a1"),
    "s6": ("", None),
}
POOL = ["", "a", "A", "\\", "'", '"', "\t", "?x", "&&", "x\\y", "a1", "3"]
CMP = ["=", "!=", "<"]


@pytest.fixture(scope="module")
def table(spark):
    from pyspark.sql import functions as F

    triples = [(s, "p:a", a) for s, (a, _) in ROWS.items()]
    triples += [(s, "p:b", b) for s, (_, b) in ROWS.items() if b is not None]
    return spark.createDataFrame(
        triples, "s string, p string, o string"
    ).withColumn("dataset", F.lit("g"))


def _num(v):
    """``try_cast(v AS double)`` over the lexical forms in ROWS."""
    try:
        return float(v)
    except ValueError:
        return None


def evaluate(t, row: dict):
    """SPARQL value of expression tree ``t`` for one solution; None is
    an expression error."""
    op = t[0]
    if op == "var":
        return row.get(t[1])
    if op in ("str", "int"):
        return t[1]
    if op == "BOUND":
        return row.get(t[1][1]) is not None
    args = [evaluate(a, row) for a in t[1:]]
    if op == "IF":  # an erroring condition is an error
        return None if args[0] is None else args[1] if args[0] else args[2]
    if op in ("&&", "||"):
        decisive = op == "||"  # the value that decides despite an error
        if decisive in args:
            return decisive
        return None if None in args else not decisive
    if None in args:
        return None
    if op in CMP:
        a, b = args
        if type(a) is not type(b):  # ?var vs a number: numeric compare
            a, b = (_num(a), b) if isinstance(a, str) else (a, _num(b))
            if a is None or b is None:
                return None
        return {"=": a == b, "!=": a != b, "<": a < b}[op]
    fn = {
        "!": lambda x: not x,
        "+": lambda x, y: x + y,
        "-": lambda x, y: x - y,
        "*": lambda x, y: x * y,
        "STRLEN": len,
        "UCASE": str.upper,
        "CONCAT": lambda x, y: x + y,
        "CONTAINS": lambda x, y: y in x,
        "STRSTARTS": str.startswith,
        "SUBSTR": lambda x, n: x[n - 1:],
        "REGEX": lambda x, p: re.search(p, x) is not None,
        "SHA256": lambda x: hashlib.sha256(x.encode()).hexdigest(),
    }[op]
    return fn(*args)


def render(t) -> str:
    op = t[0]
    if op == "var":
        return "?" + t[1]
    if op == "int":
        return str(t[1])
    if op == "str":
        esc = t[1].replace("\\", "\\\\").replace('"', '\\"').replace("\t", "\\t")
        return f'"{esc}"'
    if op == "!":
        return f"!({render(t[1])})"
    if op in CMP or op in ("&&", "||", "+", "-", "*"):
        return f"({render(t[1])} {op} {render(t[2])})"
    return f"{op}({', '.join(render(a) for a in t[1:])})"


VAR = st.sampled_from([("var", "a"), ("var", "b")])
INT = st.integers(-3, 12).map(lambda n: ("int", n))


def expr(kind: str, depth: int):
    """Well-typed trees of ``kind`` (str, int or bool), ``depth`` deep."""
    if kind == "str":
        leaf = st.one_of(VAR, st.sampled_from(POOL).map(lambda s: ("str", s)))
    elif kind == "int":
        leaf = INT
    else:  # a ?var compared with a number compares numerically
        leaf = st.one_of(
            st.tuples(st.just("BOUND"), VAR),
            st.tuples(st.sampled_from(CMP), VAR, INT),
            st.tuples(st.sampled_from(CMP), INT, VAR),
        )
    if depth == 0:
        return leaf

    def sub(k):
        return expr(k, depth - 1)

    if kind == "str":
        return st.one_of(
            leaf,
            st.tuples(st.just("UCASE"), sub("str")),
            st.tuples(st.just("CONCAT"), sub("str"), sub("str")),
            st.tuples(st.just("SUBSTR"), sub("str"), st.integers(1, 4).map(lambda n: ("int", n))),
            st.tuples(st.just("IF"), sub("bool"), sub("str"), sub("str")),
        )
    if kind == "int":
        return st.one_of(
            leaf,
            st.tuples(st.just("STRLEN"), sub("str")),
            st.tuples(st.sampled_from(["+", "-", "*"]), sub("int"), sub("int")),
            st.tuples(st.just("IF"), sub("bool"), sub("int"), sub("int")),
        )
    return st.one_of(
        leaf,
        st.tuples(st.sampled_from(CMP), sub("str"), sub("str")),
        st.tuples(st.sampled_from(CMP), sub("int"), sub("int")),
        st.tuples(st.sampled_from(["&&", "||"]), sub("bool"), sub("bool")),
        st.tuples(st.just("!"), sub("bool")),
        st.tuples(st.sampled_from(["CONTAINS", "STRSTARTS"]), sub("str"), sub("str")),
    )


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(t=expr("bool", 3))
@example(t=("=", ("var", "a"), ("str", "x\\y")))
@example(t=("REGEX", ("var", "a"), ("str", "\\d")))
@example(t=("CONTAINS", ("var", "a"), ("str", "\\")))
@example(t=("=", ("SHA256", ("var", "a")), ("str", hashlib.sha256(b"d").hexdigest())))
@example(t=("!=", ("SHA256", ("str", "x")), ("var", "b")))
def test_filter_matches_python_evaluator(table, t):
    query = (
        "SELECT ?s { ?s <p:a> ?a OPTIONAL { ?s <p:b> ?b } "
        f"FILTER({render(t)}) }}"
    )
    got = sorted(r["s"] for r in select_text(table, query).collect())
    want = sorted(
        s for s, (a, b) in ROWS.items() if evaluate(t, {"a": a, "b": b}) is True
    )
    assert got == want, query


def test_backslash_filter_matches_the_bgp(table):
    """The equality FILTER and the constant BGP object read the same
    escaped literal, so they match the same rows."""
    bgp = select_text(table, 'SELECT ?s { ?s <p:a> "x\\\\y" }').collect()
    flt = select_text(
        table, 'SELECT ?s { ?s <p:a> ?a FILTER(?a = "x\\\\y") }'
    ).collect()
    assert [r["s"] for r in bgp] == [r["s"] for r in flt] == ["s1"]


@pytest.mark.parametrize(
    "expression, name",
    [
        ("STRLEN(?a, ?a) = 1", "STRLEN"),
        ('UCASE() = "A"', "UCASE"),
        ("foo(?a)", "foo"),
        ("xsd:integer(?a) > 1", "xsd:integer"),
        ('?a LIKE "a%"', "LIKE"),
        ("?a IS NULL", "IS"),
        ('CASE WHEN ?a = "d" THEN true ELSE false END', "CASE"),
    ],
)
def test_bad_expressions_are_syntax_errors(expression, name):
    """A wrong arity, an unknown function, cast syntax and SQL that is
    not SPARQL all fail at parse time, naming the offending token."""
    with pytest.raises(SparqlSyntaxError) as err:
        parse_select(f"SELECT ?s {{ ?s <p:a> ?a FILTER({expression}) }}")
    assert name.lower() in str(err.value).lower()
