"""SPARQL text parser → the :mod:`serve` algebra — all four query
forms (SELECT, ASK, CONSTRUCT, DESCRIBE).

The reference issues *textual* SPARQL against its endpoint
(Sparql.java:21-29 ``select``/``selectPrefixed``; query strings at
Sparql.java:44 and LinkedSpendingDatasetInfo.java:62-83). ``serve.py``
already evaluates the algebra (BGP join trees, OPTIONAL, FILTER, UNION,
DISTINCT/ORDER BY/LIMIT); this module closes the last gap for a
switching user by parsing the reference's dialect so those query
strings run verbatim::

    select_text(triples, 'select ?d ?m {?d a qb:DataSet. '
                         '?d dcterms:modified ?m. ?d dcterms:created ?c.}')

Supported grammar (a deliberate subset — exactly the forms the
reference's own queries use, plus the group algebra
:func:`~linkedspending_spark.serve.eval_group` evaluates):

* ``PREFIX name: <uri>`` declarations — including the EMPTY prefix
  (``PREFIX : <uri>`` … ``:alice``); the reference's four standing
  prefixes (Sparql.java:17-20 — ``dcterms`` ``ls`` ``lso`` ``qb``) plus
  ``rdf rdfs owl xsd dbo`` are predeclared, so ``selectPrefixed``-style
  bodies parse as-is.
* ``SELECT [DISTINCT] (?var... | *)`` with optional ``WHERE``.
* Triple patterns with ``;`` predicate-object and ``,`` object lists;
  terms are ``?var``, ``<uri>``, ``prefixed:name``, ``a`` (rdf:type),
  numbers, and ``"literal"`` with optional ``^^datatype`` / ``@lang``.
  Objects match on the stored *lexical form* (the triple table keeps
  ``o`` as the lexical value with ``o_kind``/``o_datatype`` metadata,
  model.py:98-105), so ``"true"^^xsd:boolean`` matches ``o = 'true'``.
* ``OPTIONAL { ... }`` groups, including FILTERs scoped inside the
  OPTIONAL — those become part of the left join's ON condition
  (SPARQL ``LeftJoin(Ω1, Ω2, expr)``): solutions whose optional match
  fails the filter are KEPT and NULL-extended, where a solution-level
  filter would drop them. OPTIONAL, UNION, MINUS, EXISTS and GRAPH
  bodies take the FULL group grammar (nested OPTIONAL/UNION/FILTER/
  BIND/VALUES/MINUS, property paths, subqueries): every body is itself
  a group, evaluated bottom-up by the same evaluator, then LEFT-joined
  (OPTIONAL) or unioned by name and inner-joined (UNION) with the
  outer solution; a pattern-only body is one BGP join tree, as at top
  level. Joining on a variable a body binds only conditionally stays
  a loud refusal (compatibility semantics).
* ``FILTER( expr )`` — SPARQL's expression grammar (``|| && !``,
  ``= != < <= > >=``, ``+ - * /``, ``IN`` / ``NOT IN``, 40-odd
  built-ins, and ``try_cast(expr AS type)`` for explicit coercion)
  parses once, from the query's own tokens, into a small AST that
  :func:`~linkedspending_spark.serve.compile_expr` compiles straight
  to a Spark Column. Literal values reach Spark as ``F.lit`` values,
  never as SQL text, so quotes and backslashes need no escaping layer,
  and every built-in composes with any operand at any depth
  (``ROUND(STRLEN(?o))``, ``STRBEFORE(UCASE(?o), " ")``). An unknown
  function, a wrong argument count, ``xsd:type(?x)`` cast syntax and
  SQL that is not SPARQL (``LIKE``, ``IS NULL``, ``CASE``) are
  rejected at parse time (a clean 400 over REST). Comparison semantics
  follow the operand's FORM: a quoted literal compares lexically
  against the string column, but a variable compared with an unquoted
  numeric literal (``FILTER(?n > 5)``) compares numerically via
  ``try_cast`` — closer to SPARQL's typed comparison, and a row whose
  lexical form is not a number DROPS from the solution (SPARQL's
  expression-error semantics) instead of throwing from ANSI codegen
  (pinned in tests; do not "fix" either away). Unquoted numbers keep
  Spark SQL's literal types (``5`` int, ``1.5`` decimal), so arithmetic
  and SUM typing follow Spark; an arithmetic operand that does not read
  as a number under that typing is an error for its own row (NULL), not
  for the query. ``LANG`` / ``DATATYPE`` /
  ``isURI/isIRI/isLiteral/isBlank`` / ``sameTerm`` read a variable's
  term-metadata companions — they need a triple table carrying
  ``o_kind``/``o_datatype``/``o_lang`` (raise otherwise); LANG or
  DATATYPE of a URI is NULL = SPARQL's expression error (row drops in
  FILTER). ``isNumeric`` tests the lexical form via try_cast;
  ``isBlank`` is constantly false over engine-built tables (the
  converter mints URIs). ``REGEX``/``REPLACE`` take the optional FLAGS
  literal (i/s/m/x fold into a Java embedded-flag prefix; XPath 'q'
  has no Java form — loud 400); ``TZ(?x)`` extracts the lexical
  timezone ("Z", "+05:00", or ""); ``IF`` with an erroring condition
  is an error.
* ``BIND(expr AS ?v)`` — the expression is evaluated in source order
  and bound to a new variable. The RDF term CONSTRUCTORS ``IRI/URI(expr)``,
  ``STRLANG(expr, "tag")`` and ``STRDT(expr, <dt>)`` are recognized
  at the BIND top level: the value is the inner expression's lexical
  form and the constructed kind/datatype/lang ride along as constant
  companions (visible to LANG()/DATATYPE()/isURI() downstream and to
  the REST layer's W3C term typing). Nondeterministic built-ins
  (RAND/NOW/UUID/STRUUID/BNODE) refuse by name — solutions must be
  reproducible across retried Spark tasks; TIMEZONE() points at TZ().
* ``SELECT (expr AS ?v)`` — projection expressions, applied after
  grouping (expressions may reference aggregate aliases, grouped
  variables, and aggregate CALLS — see the aggregates bullet).
* ``{ A } UNION { B }`` (each branch a group).
* ``MINUS { ... }`` — SPARQL Minus as a LEFT ANTI equi-join on the
  shared variables (positional, like OPTIONAL); no shared variable →
  removes nothing (the spec's disjoint-domain rule).
* ``FILTER EXISTS { ... }`` / ``FILTER NOT EXISTS { ... }`` — LEFT
  SEMI / LEFT ANTI joins on the shared variables, applied at group
  level (SPARQL scopes every FILTER to its whole group).
* ``VALUES ?x { ... }`` / ``VALUES (?x ?y) { (..) (..) }`` inline data
  (UNDEF → unbound), joined in source order as a LocalRelation.
* Aggregates: ``SELECT (COUNT(?x) AS ?n) ?g ... GROUP BY ?g
  HAVING(...)`` with COUNT / COUNT(*) / SUM / AVG / MIN / MAX / SAMPLE
  / GROUP_CONCAT([DISTINCT] ?x [; SEPARATOR=".."]) — DISTINCT works in
  every aggregate (native distinct aggregation for COUNT/SUM/AVG;
  MIN/MAX/SAMPLE accept and ignore it, dedup cannot change them);
  operands may be full EXPRESSIONS (``SUM(?a * ?b)``,
  ``COUNT(strlen(?x))``) — evaluated as hidden BINDs and aggregated by
  their native column type (``SUM(?o * 2)`` over integer forms sums as
  long; arithmetic between two lexical-form variables reads both as
  doubles, so ``SUM(?a * ?b)`` sums as a double);
  aggregates also embed at any depth in SELECT expressions, HAVING and
  ORDER BY keys (``(COUNT(?x) * 2 AS ?d)``,
  ``HAVING(SUM(STRLEN(UCASE(?o))) > 2)`` — each becomes a hidden
  alias, the expression evaluates over the grouped solutions); GROUP
  BY takes expression conditions
  (``GROUP BY (substr(?o,1,4) AS ?year)`` — alias projectable and
  visible to HAVING/ORDER BY; parenthesized or bare-builtin forms
  without AS group on a hidden key); SELECT DISTINCT composes with
  aggregation (dedup over the projected rows, spec modifier order);
  HAVING takes alias references AND the spec's direct form
  (``HAVING(COUNT(?x) > 5)`` / ``HAVING(SUM(?a * 2) > 5)``); ORDER BY
  takes aggregate keys the same way
  (``ORDER BY DESC(COUNT(?x))``); a trailing
  ``VALUES`` clause joins after grouping (§18.2.4)
  — GROUP_CONCAT sorts the collected values first (SPARQL leaves the
  order unspecified; deterministic output is the serving-path choice). SUM aggregates as long when every operand's
  lexical form is an integer (→ ``xsd:integer``, SPARQL 1.1), else as
  double — decided per query by two typing counts (with GROUP BY one
  narrow pre-scan; without, the counts ride in the aggregate's one row,
  which is collected and typed on the driver); AVG casts to double
  (SPARQL says ``xsd:decimal`` for integers — documented divergence);
  MIN/MAX compare lexical forms (ISO dates order correctly;
  zero-padded numbers do too).
* ``ORDER BY [ASC(key)|DESC(key)|key]...`` where a key is a ``?var``
  or an EXPRESSION (``strlen(?o)``, ``(?a + ?b)`` — hidden BIND
  columns, never leaked into SELECT * output; under aggregation the
  key recomputes over the grouped solutions and may reference grouped
  vars, aggregate aliases and aggregate calls; under DISTINCT it is
  restricted to the projected variables), ``LIMIT n`` and
  ``OFFSET n`` (either order). NOTE: OFFSET paging is only stable
  under a total ORDER BY — an unordered offset walks an arbitrary
  (plan-dependent) solution order, same as SQL.
* ``CONSTRUCT { template } WHERE { ... }`` — returns a GRAPH as the
  engine's own triple-table shape (s, p, o, o_kind, o_datatype,
  o_lang): one narrow projection per template triple, plan-level
  union, set-dedup. Templates keep written term forms (uri vs literal
  + datatype/lang); solution term metadata threads through via the
  ``with_kinds`` companions, so the result feeds ``write_nt`` /
  ``nt_statement`` / further SPARQL directly. Solution modifiers
  (ORDER BY/LIMIT/OFFSET) apply to the solution sequence, per spec.

* ``DESCRIBE <uri>... [?var... WHERE { ... }]`` — the resources'
  outgoing triples (the simplest concise-bounded description; the
  table has no blank nodes to close over), again in triple-table
  shape. Constants push down as an ``In`` subject filter; ?var
  resources come from the WHERE solutions via a LEFT SEMI join.

* Property paths (SPARQL 1.1 §9): sequence ``p1/p2``, inverse ``^p``,
  alternation ``p1|p2``, grouping ``(...)``, and quantifiers ``p+``
  ``p*`` ``p?`` — over a single (optionally inverted) predicate OR a
  composite element (``(p/q)+``, ``(p|q)*``): composites compile to an
  edge-spec tree whose step relation is joins/unions of pushed-down
  scans (:func:`~linkedspending_spark.serve._edge_relation`). Paths
  rewrite into the algebra at parse time — sequences chain reserved
  ``?__ppN`` variables (invisible in output, multiplicity kept, per
  spec), inverse swaps the ends, alternation becomes a UNION group (a
  nested group spec when a branch itself quantifies, e.g. ``p+|q``) —
  and quantified steps evaluate as frontier closure
  (:func:`~linkedspending_spark.serve.path_closure`): BFS from a
  constant end, full pair closure var-var (the spec's quadratic worst
  case — keep one end bound over large graphs) — on the driver over
  the step's once-collected edges under ``canon.LOCAL_THRESHOLD``,
  as lineage-checkpointed distributed rounds above it. ``*``/``?``
  include the spec's zero-length path (every graph node paired with
  itself; a constant end matches even when absent from the graph).
  Negated property sets ``!p`` / ``!(p1|p2)`` are a pure ``NOT IN``
  scan constraint in predicate position
  (:class:`~linkedspending_spark.serve.NotTerms` — pushes into
  parquet, binds nothing). Directly-nested quantifiers merge
  algebraically at parse time (``(p+)+ = p+``, mixed pairs = ``p*``;
  ``^(p+)`` normalizes to ``(^p)+``). Refused loud: inverse/quantified
  negated sets, variable path elements, quantifiers buried inside a
  quantified COMPOSITE element (``(p+/q)+`` — closure-within-closure),
  and quantified paths under ``GRAPH ?var`` (per-graph closure). All
  path forms work inside OPTIONAL/UNION/MINUS/EXISTS/constant-GRAPH
  bodies — nested bodies take the full group grammar and evaluate
  bottom-up.

* Subqueries (SPARQL 1.1 §12): ``{ SELECT ... }`` groups, evaluated
  bottom-up — the inner SELECT runs its own projection / DISTINCT /
  aggregation / ORDER BY / LIMIT (no ``limit_cap``: an inner LIMIT is
  query semantics, not a serving bound), then joins the outer solution
  on the shared variables. Nestable. Joining on an inner variable that
  may come back unbound (OPTIONAL/BIND/expression-born) is refused
  loudly; aggregate aliases over always-bound operands count as bound
  (the join-on-subquery-MAX idiom), with the zero-solution divergence
  pinned in tests.

* ``GRAPH <uri>|?var { body }`` — named graphs ARE the triple
  table's ``dataset`` partitions, addressed as the reference's
  sub-graph URIs ``<PREFIX_GRAPH><datasetName>`` (Virtuoso.java:25-49).
  GRAPH is an operator over its body, which takes the full group
  grammar. A constant graph evaluates the body with the dataset bound
  (every scan in it partition-prunes); a variable evaluates it with
  the active graph carried as one reserved column — every scan binds
  it from the dataset column, every join in the body keys on it, and
  it becomes the variable (typed ``uri``) at the GRAPH boundary, so
  the whole body stays inside one graph and MINUS applies the
  disjoint-domain rule to the body's own variables. An absent graph
  is an empty graph (zero solutions), and a GRAPH clause never widens
  an outer ``dataset=`` scope. Refused under ``GRAPH ?var``, by name:
  quantified property paths (the closure would run per graph) and
  subqueries (the active graph substitutes past the projection).
  MINUS and FILTER [NOT] EXISTS bodies likewise take the full grammar
  (evaluated bottom-up; anti/semi joined on always-bound shared
  variables).

* ``FROM <g>`` / ``FROM NAMED <g>`` dataset descriptions (13.2), on
  all four query forms: FROM graphs merge into the default graph — a
  partition SET that reaches every scan as ``PartitionFilters``; a URI
  outside the graph namespace merges the empty graph; FROM NAMED
  lists the graphs GRAPH clauses may address (constants outside the
  set are empty graphs, ``GRAPH ?g`` ranges over the set); FROM NAMED
  without FROM leaves the EMPTY default graph, per spec. Refused:
  FROM in a subquery, FROM combined with the serving API's own
  ``dataset=`` scope. The W3C protocol's ``default-graph-uri`` /
  ``named-graph-uri`` request parameters override the query's
  description at the endpoint (sparql11-protocol 2.1.4).

* Blank nodes: ``[ p o; ... ]`` property lists (subject or object,
  nestable) and ``_:label`` terms — both desugar to reserved
  existential variables (same ``?__pp`` family as path chains: joined
  normally, never projected, multiplicity kept). ``[]`` is an
  unconstrained anonymous term.

Out of scope (raise, never misparse): SERVICE (no federation —
single-engine by design), inverse/quantified negated property sets.

Scale shape: the parser only *front-ends* ``serve.eval_group`` —
every pattern is still a pushed-down scan under the stats-ordered join
tree, and ORDER BY + LIMIT still plan as TakeOrderedAndProject.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from decimal import Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import model as M
from .serve import (
    BUILTIN_ARITY,
    KIND_BUILTINS,
    _companions_of,
    _is_companion,
    _values_df,
    compile_expr,
    eval_group,
    lexical_in,
    expr_vars,
)
from .sources.local import local_frame

#: Standing prefixes: the reference's four (Sparql.java:17-20) + core RDF.
DEFAULT_PREFIXES: dict[str, str] = {
    "dcterms": M.NS_DCT,
    "ls": M.PREFIX_INSTANCE,
    "lso": M.PREFIX_ONTOLOGY,
    "qb": M.NS_QB,
    "rdf": M.NS_RDF,
    "rdfs": M.NS_RDFS,
    "owl": M.NS_OWL,
    "xsd": M.NS_XSD,
    "dbo": M.NS_DBO,
}

_TOKEN = re.compile(
    r"""
      (?P<ws>\s+|\#[^\n]*)
    | (?P<uri><[^<>\s]*>)
    | (?P<string>"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*')
    | (?P<var>\?\w+)
    | (?P<dt>\^\^)
    | (?P<lang>@[A-Za-z][A-Za-z0-9-]*)
    | (?P<pname>(?:[A-Za-z_][\w-]*)?:(?:[\w-]+(?:\.[\w-]+)*)?)
    | (?P<word>[A-Za-z_]\w*)
    | (?P<num>[+-]?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
    | (?P<op>\|\||&&|!=|<=|>=|[=<>-])
    | (?P<punct>[{}.,;()*^/|+?!\[\]])
    """,
    re.X,
)

_STR_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", '"': '"', "'": "'", "\\": "\\"}


def _unescape(body: str) -> str:
    return re.sub(
        r"\\(.)", lambda m: _STR_ESCAPES.get(m.group(1), m.group(1)), body
    )


class SparqlSyntaxError(ValueError):
    pass


def _is_pat_var(term: str) -> bool:
    return isinstance(term, str) and term.startswith("?")


class _Lexer:
    """On-demand tokenizer over the query text; triple patterns and
    expressions read the same token stream."""

    def __init__(self, text: str):
        self.text = text
        self.pos = 0
        self._peeked: tuple[str, str] | None = None

    def _scan(self) -> tuple[str, str]:
        while self.pos < len(self.text):
            m = _TOKEN.match(self.text, self.pos)
            if m is None:
                raise SparqlSyntaxError(
                    f"cannot tokenize at ...{self.text[self.pos:self.pos+30]!r}"
                )
            self.pos = m.end()
            if m.lastgroup != "ws":
                return m.lastgroup, m.group()
        return "eof", ""

    def peek(self) -> tuple[str, str]:
        if self._peeked is None:
            self._peeked = self._scan()
        return self._peeked

    def next(self) -> tuple[str, str]:
        tok = self.peek()
        self._peeked = None
        return tok

    def peek_op(self) -> tuple[str, str]:
        """:meth:`peek` where an operator may follow an operand: a term
        cannot start there, so ``<`` is less-than, never an ``<iri>``
        (``?a<?b&&?b>?a`` is two comparisons)."""
        kind, text = self.peek()
        if kind == "uri":
            op = "<=" if text.startswith("<=") else "<"
            self.pos -= len(text) - len(op)
            self._peeked = ("op", op)
        return self._peeked

    def next_word(self) -> str | None:
        """The next token lowered if it is a bare word, else None."""
        kind, text = self.peek()
        return text.lower() if kind == "word" else None

    def expect_punct(self, ch: str) -> None:
        kind, text = self.next()
        if text != ch:
            raise SparqlSyntaxError(f"expected {ch!r}, got {text!r}")

    def save(self) -> tuple:
        """Checkpoint for bounded lookahead (subquery vs UNION braces)."""
        return (self.pos, self._peeked)

    def restore(self, state: tuple) -> None:
        self.pos, self._peeked = state


def _number(text: str) -> int | Decimal | float:
    """An unquoted numeric literal typed as Spark SQL types it: ``5`` is
    an int (a long, then a decimal, when it overflows), ``1.5`` a
    decimal, ``1e3`` a double — so arithmetic and SUM typing follow
    Spark's own rules."""
    if "e" in text.lower():
        return float(text)
    if "." in text:
        return Decimal(text)
    n = int(text)
    return n if -(2**63) <= n < 2**63 else Decimal(text)


@dataclass
class ParsedQuery:
    """A parsed query: its WHERE group (``patterns``, ``filters``,
    ``groups`` — what :func:`~linkedspending_spark.serve.eval_group`
    evaluates) plus the query form, projection and modifiers. Every
    nested group body (OPTIONAL, MINUS, EXISTS, UNION branch, GRAPH) is
    itself a ``ParsedQuery`` holding only a group. Expressions are
    parsed nodes (see :func:`~linkedspending_spark.serve.compile_expr`)
    with their aggregates hoisted to hidden ``__aggN`` variables."""

    patterns: list[tuple] = field(default_factory=list)
    filters: list[tuple] = field(default_factory=list)
    distinct: bool = False
    order_by: list[str] = field(default_factory=list)
    limit: int | None = None
    offset: int | None = None
    project: list[str] | None = None  # None = SELECT *
    ask: bool = False  # ASK query: solutions limited to 1; non-empty = true
    #: group operators in source order (SPARQL's group-graph-pattern
    #: order), one encoding each: ("optional", body) / ("minus", body)
    #: / ("exists", (body, positive)) / ("union", [body, ...]) /
    #: ("graph", (term, body)) / ("bind", (expr, var, meta)) /
    #: ("values", (var_names, rows)) / ("path", (s, p, o, quant)) /
    #: ("subquery", ParsedQuery) — see serve.eval_group
    groups: list[tuple] = field(default_factory=list)
    #: (func, var-or-None-for-*, distinct, alias) per SELECT aggregate
    aggregates: list[tuple[str, str | None, bool, str]] = field(
        default_factory=list
    )
    #: GROUP_CONCAT separators by alias (default " ", per SPARQL 1.1)
    agg_separators: dict = field(default_factory=dict)
    #: trailing VALUES clause (§18.2.4: joins after grouping/HAVING)
    post_values: tuple | None = None
    group_by: list[str] = field(default_factory=list)
    having: list[tuple] = field(default_factory=list)
    #: (expr, alias) per non-aggregate SELECT expression
    select_exprs: list[tuple[tuple, str]] = field(default_factory=list)
    #: dataset description (SPARQL 13.2): FROM graph URIs (merged as
    #: the default graph) and FROM NAMED graph URIs (the graphs GRAPH
    #: clauses may address). Empty lists when absent — a present
    #: description with no FROM means the EMPTY default graph.
    from_graphs: list[str] = field(default_factory=list)
    from_named: list[str] = field(default_factory=list)
    #: hidden (expr, name) pre-projections backing EXPRESSION
    #: aggregates (``SUM(?a * ?b)``), GROUP BY expressions and ORDER BY
    #: expression keys: appended to ``groups`` as reserved-name BINDs
    #: AFTER the body parses (so they evaluate over the full solution)
    agg_expr_binds: list[tuple[tuple, str]] = field(default_factory=list)
    #: query uses LANG()/DATATYPE()/is*()/sameTerm() or a term
    #: constructor: evaluation must
    #: thread the <v>__kind/__datatype/__lang companions internally
    needs_kinds: bool = False
    #: CONSTRUCT template: (s, p, o) of terms, each term a 4-tuple
    #: (value, kind 'var'|'uri'|'lit', datatype, lang) keeping the
    #: WRITTEN form so the output graph carries correct o_kind metadata
    construct: list[tuple] | None = None
    #: DESCRIBE terms: URIs and/or "?var" names (vars resolved against
    #: the WHERE group's solutions)
    describe: list[str] | None = None


_AGG_FUNCS = {
    "count", "sum", "min", "max", "avg", "sample", "group_concat",
}

#: RDF term constructors: legal only as the top-level form of a BIND
_CONSTRUCTORS = frozenset({"iri", "uri", "strlang", "strdt"})

#: binary operator precedence, loosest first (SPARQL 1.1 §19.8:
#: ConditionalOr, ConditionalAnd, Relational — IN / NOT IN too —,
#: Additive, Multiplicative)
_BINARY_PREC = {
    "||": 1, "&&": 2,
    "=": 3, "!=": 3, "<": 3, "<=": 3, ">": 3, ">=": 3,
    "+": 4, "-": 4, "*": 5, "/": 5,
}

#: target types of the ``try_cast(expr AS type)`` escape hatch
_CAST_TYPES = frozenset({
    "double", "float", "decimal", "int", "integer", "long", "bigint",
    "string", "boolean", "date", "timestamp",
})

_UNSUPPORTED = {
    "service",
}


class _Parser:
    def __init__(self, text: str):
        self.lx = _Lexer(text)
        self.prefixes = dict(DEFAULT_PREFIXES)
        self.q = ParsedQuery()
        self._fresh = 0  # property-path rewrite variable counter
        self._calls: list[str] = []  # enclosing calls, for arity errors

    # -- terms ---------------------------------------------------------------

    def _expand(self, pname: str) -> str:
        pfx, local = pname.split(":", 1)
        if pfx not in self.prefixes:
            raise SparqlSyntaxError(
                f"unknown prefix {pfx!r} (declare PREFIX {pfx}: <...>)"
            )
        return self.prefixes[pfx] + local

    def _term(self) -> str:
        kind, text = self.lx.next()
        if kind == "var":
            if text.startswith(("?__pp", "?__agg")):
                raise SparqlSyntaxError(
                    f"variable {text} uses a reserved internal prefix "
                    "(?__pp = path/blank-node rewrites, ?__agg = "
                    "hidden aggregate aliases)"
                )
            return text
        if kind == "uri":
            return text[1:-1]
        if kind == "pname":
            if text.startswith("_:"):
                # labeled blank node: an existential variable scoped to
                # the query (never projected — rides the ?__pp drop)
                return "?__pp_bn_" + text[2:]
            return self._expand(text)
        if kind == "num":
            return text
        if kind == "word":
            if text == "a":
                return M.RDF_TYPE
            raise SparqlSyntaxError(
                f"bare word {text!r} is not a term (quote literals; "
                "only 'a' abbreviates rdf:type)"
            )
        if kind == "string":
            value = _unescape(text[1:-1])
            nxt = self.lx.peek()
            if nxt[0] == "dt":  # ^^datatype: consumed; matching is lexical
                self.lx.next()
                dk, dt = self.lx.next()
                if dk not in ("uri", "pname"):
                    raise SparqlSyntaxError(f"bad datatype token {dt!r}")
            elif nxt[0] == "lang":
                self.lx.next()
            return value
        raise SparqlSyntaxError(f"unexpected term token {text!r}")

    # -- property paths --------------------------------------------------
    #
    # SPARQL 1.1 path grammar (the useful core):
    #     path  := seq ('|' seq)*
    #     seq   := step ('/' step)*
    #     step  := '^'? primary ('+' | '*' | '?')?
    #     primary := iri | 'a' | '(' path ')'
    # Paths REWRITE into the existing algebra at parse time (the spec's
    # own translation): sequences chain through fresh ?__ppN variables
    # (plain extra patterns — the fresh var stays invisible but its
    # multiplicity is kept, per spec), inverse swaps the ends,
    # alternation becomes a UNION group, and a quantified step becomes
    # a ("path", (s, p, o, quant)) group evaluated by serve.path_closure
    # (^p+ normalizes by swapping ends: (^p)+ ≡ ^(p+); a quantified
    # COMPOSITE carries an edge-spec tree as p — serve builds its step
    # relation from joins/unions of pushed-down scans). Negated sets
    # (!p) quantified and nested quantifiers stay loud refusals.

    def _fresh_var(self) -> str:
        self._fresh += 1
        return f"?__pp{self._fresh - 1}"

    def _braces_open_subquery(self) -> bool:
        """Bounded lookahead: does the upcoming ``{`` start a
        ``{ SELECT ... }`` subquery (vs a UNION branch group)?"""
        st = self.lx.save()
        try:
            self.lx.next()  # the '{'
            return self.lx.next_word() == "select"
        finally:
            self.lx.restore(st)

    _PATH_OPS = ("/", "|", "+", "*", "?", "^")

    def _path_or_term(self) -> "str | tuple":
        """The predicate position: a plain term (possibly a ?var), or a
        composite path tree. A variable predicate cannot take part in a
        path expression (SPARQL's grammar says the same)."""
        kind, text = self.lx.peek()
        if kind == "var":
            self.lx.next()
            if self.lx.peek()[1] in self._PATH_OPS:
                raise SparqlSyntaxError(
                    "property paths over a variable predicate are not "
                    f"supported ({text} followed by "
                    f"{self.lx.peek()[1]!r})"
                )
            return text
        if kind in ("num", "string"):
            return self._term()  # degenerate constant predicate
        node = self._path()
        if node[0] == "leaf" and not node[2]:
            return node[1]  # plain IRI predicate — the common case
        return node

    def _path(self) -> tuple:
        branches = [self._path_seq()]
        while self.lx.peek()[1] == "|":
            self.lx.next()
            branches.append(self._path_seq())
        return branches[0] if len(branches) == 1 else ("alt", branches)

    def _path_seq(self) -> tuple:
        steps = [self._path_step()]
        while self.lx.peek()[1] == "/":
            self.lx.next()
            steps.append(self._path_step())
        return steps[0] if len(steps) == 1 else ("seq", steps)

    def _path_step(self) -> tuple:
        inv = False
        if self.lx.peek()[1] == "^":
            self.lx.next()
            inv = True
        if self.lx.peek()[1] == "!":
            # negated property set !p / !(p1|p2): a pure NOT IN scan
            # constraint in predicate position (serve.NotTerms) —
            # binds nothing, joins nothing
            self.lx.next()
            if inv:
                raise SparqlSyntaxError(
                    "^!(...) is not supported (invert the members "
                    "instead — also unsupported: inverse members in a "
                    "negated property set)"
                )
            uris: list[str] = []
            if self.lx.peek()[1] == "(":
                self.lx.next()
                while True:
                    uris.append(self._nps_member())
                    if self.lx.peek()[1] == "|":
                        self.lx.next()
                        continue
                    break
                self.lx.expect_punct(")")
            else:
                uris.append(self._nps_member())
            if self.lx.peek()[1] in ("+", "*", "?"):
                raise SparqlSyntaxError(
                    "a quantified negated property set is not supported"
                )
            return ("nps", uris)
        kind, text = self.lx.peek()
        if text == "(":
            self.lx.next()
            node = self._path()
            self.lx.expect_punct(")")
        elif kind in ("uri", "pname") or (kind == "word" and text == "a"):
            self.lx.next()
            if kind == "uri":
                uri = text[1:-1]
            elif kind == "pname":
                uri = self._expand(text)
            else:
                uri = M.RDF_TYPE
            node = ("leaf", uri, False)
        else:
            raise SparqlSyntaxError(
                f"expected a path element, got {text!r} (negated "
                "property sets and variable path elements are not "
                "supported)"
            )
        if inv:
            if node[0] == "quant":
                # ^(p+) ≡ (^p)+: the inverse of a closure is the
                # closure of the inverse — push the ^ inside so the
                # quantifier stays outermost (one canonical shape)
                node = ("quant", ("inv", node[1]), node[2])
            else:
                node = ("inv", node)
        q = self.lx.peek()[1]
        if q in ("+", "*", "?"):
            self.lx.next()
            if node[0] == "quant":
                # directly-nested quantifiers merge algebraically:
                # equal quantifiers are idempotent ((p+)+ = p+,
                # (p?)? = p?, (p*)* = p*); any MIXED pair admits zero
                # steps on one side and unbounded repetition on the
                # other, which is exactly p* ((p+)* = (p*)+ = (p?)+ =
                # (p+)? = ... = p*)
                inner_q = node[2]
                node = ("quant", node[1], q if q == inner_q else "*")
            else:
                node = ("quant", node, q)
        return node

    def _nps_member(self) -> str:
        kind, text = self.lx.next()
        if kind == "uri":
            return text[1:-1]
        if kind == "pname":
            return self._expand(text)
        if kind == "word" and text == "a":
            return M.RDF_TYPE
        if text == "^":
            raise SparqlSyntaxError(
                "inverse members in a negated property set are not "
                "supported"
            )
        raise SparqlSyntaxError(
            f"negated property set members must be IRIs, got {text!r}"
        )

    def _rewrite_path(
        self, s: str, node: tuple, o: str
    ) -> tuple[list[tuple], list[tuple]]:
        """Rewrite ``s <path> o`` into (plain patterns, group entries)."""
        kind = node[0]
        if kind == "leaf":
            _, uri, _ = node
            return [(s, uri, o)], []
        if kind == "nps":
            from .serve import NotTerms

            return [(s, NotTerms(node[1]), o)], []
        if kind == "inv":
            return self._rewrite_path(o, node[1], s)
        if kind == "quant":
            _, inner, q = node
            # single (optionally inverted) predicate: the closure's edge
            # scan is ONE pushed-down predicate filter; (^p)+ ≡ ^(p+) so
            # inversion just swaps the ends
            if inner[0] == "inv" and inner[1][0] == "leaf":
                return [], [("path", (o, inner[1][1], s, q))]
            if inner[0] == "leaf":
                return [], [("path", (s, inner[1], o, q))]
            # composite element ((p/q)+, (p|q)*, (^p/q)+ ...): compile
            # it to an edge-spec tree — serve._edge_relation builds the
            # step relation from joins/unions of pushed-down scans and
            # the same frontier closure iterates over it
            return [], [("path", (s, self._edge_spec(inner), o, q))]
        if kind == "seq":
            pats: list[tuple] = []
            grps: list[tuple] = []
            cur = s
            steps = node[1]
            for i, step in enumerate(steps):
                nxt = o if i == len(steps) - 1 else self._fresh_var()
                p2, g2 = self._rewrite_path(cur, step, nxt)
                pats += p2
                grps += g2
                cur = nxt
            return pats, grps
        if kind == "alt":
            if not (_is_pat_var(s) or _is_pat_var(o)):
                raise SparqlSyntaxError(
                    "path alternation with both ends constant is not "
                    "supported"
                )
            # each branch is a group; reserved chain variables (?__ppN)
            # stay in its solutions — they may join an enclosing
            # sequence rewrite's chain
            return [], [
                (
                    "union",
                    [
                        ParsedQuery(patterns=p2, groups=g2)
                        for p2, g2 in (
                            self._rewrite_path(s, b, o) for b in node[1]
                        )
                    ],
                )
            ]
        raise SparqlSyntaxError(f"unknown path node {kind!r}")

    def _edge_spec(self, node: tuple) -> tuple:
        """A quantified path's composite ELEMENT as an edge-spec tree
        for serve._edge_relation: ("uri", u) / ("inv", spec) /
        ("seq", [spec...]) / ("alt", [spec...]). Nested quantifiers and
        negated sets inside a quantified element stay loud refusals."""
        kind = node[0]
        if kind == "leaf":
            return ("uri", node[1])
        if kind == "inv":
            return ("inv", self._edge_spec(node[1]))
        if kind in ("seq", "alt"):
            return (kind, [self._edge_spec(x) for x in node[1]])
        if kind == "quant":
            raise SparqlSyntaxError(
                "a nested quantifier inside a quantified path is not "
                "supported"
            )
        raise SparqlSyntaxError(
            "a negated property set inside a quantified path is not "
            "supported"
        )

    def _bnode_plist(self, pats: list, grps: list) -> str:
        """``[ p o; p2 o2 ]`` — an anonymous blank node (SPARQL: an
        existential, never-projected variable; desugared to a fresh
        reserved ``?__ppN`` exactly like a path chain variable). Its
        property list lands in *pats*/*grps*; returns the variable so
        the caller can use the node as a subject or object term.
        Nestable (``[ p [ q ?v ] ]``)."""
        self.lx.expect_punct("[")
        var = self._fresh_var()
        while self.lx.peek()[1] != "]":
            if self.lx.peek()[0] == "eof":
                raise SparqlSyntaxError(
                    "unterminated [ blank-node property list"
                )
            p = self._path_or_term()
            while True:
                o = (
                    self._bnode_plist(pats, grps)
                    if self.lx.peek()[1] == "["
                    else self._term()
                )
                if isinstance(p, str):
                    pats.append((var, p, o))
                else:
                    p2, g2 = self._rewrite_path(var, p, o)
                    pats += p2
                    grps += g2
                if self.lx.peek()[1] == ",":
                    self.lx.next()
                    continue
                break
            if self.lx.peek()[1] == ";":
                self.lx.next()
                continue
            break
        self.lx.expect_punct("]")
        return var

    # -- groups ----------------------------------------------------------

    def _child(self) -> "_Parser":
        """A parser for a nested body or subquery on the SHARED lexer."""
        sub = _Parser.__new__(_Parser)
        sub.lx = self.lx
        sub.prefixes = dict(self.prefixes)
        sub.q = ParsedQuery()
        sub._fresh = 0
        sub._calls = []
        return sub

    def _child_body(self, what: str | None = None) -> ParsedQuery:
        """Parse a full nested group-graph-pattern body ``{ ... }`` with
        a child parser on the SHARED lexer (the subquery trick) — so
        OPTIONAL / MINUS / EXISTS / UNION / GRAPH bodies support
        everything the main group body does. The fresh-variable counter
        is shared so parent/child path-rewrite variables (``?__ppN``)
        never collide in a joint scope, and the child's ``needs_kinds``
        propagates up (the outer evaluation threads the companions).
        ``what`` names the operator for the empty-body refusal."""
        sub = self._child()
        sub._fresh = self._fresh
        sub._group_body()
        self._fresh = sub._fresh
        self.q.needs_kinds = self.q.needs_kinds or sub.q.needs_kinds
        if what is not None and not sub.q.patterns and not sub.q.groups:
            raise SparqlSyntaxError(
                f"{what} needs at least one triple pattern"
            )
        return sub.q

    def _triple_lists(self) -> tuple[list, list]:
        """One subject's predicate-object lists: ``s p o, o2; p2 o3 .``

        Returns ``(patterns, groups)``: the predicate position accepts a
        property path; sequence/inverse paths rewrite into extra plain
        patterns, while alternation/quantified paths rewrite into group
        entries."""
        out: list[tuple] = []
        grps: list[tuple] = []
        if self.lx.peek()[1] == "[":
            # blank-node property list as the subject; a bare
            # ``[ p o ] .`` statement (no outer predicate list) is legal
            s = self._bnode_plist(out, grps)
            bare = self.lx.peek()[1] in (".", "}")
        else:
            s = self._term()
            bare = False
        while not bare:
            p = self._path_or_term()
            while True:
                o = (
                    self._bnode_plist(out, grps)
                    if self.lx.peek()[1] == "["
                    else self._term()
                )
                if isinstance(p, str):
                    out.append((s, p, o))
                else:
                    p2, g2 = self._rewrite_path(s, p, o)
                    out += p2
                    grps += g2
                if self.lx.peek()[1] == ",":
                    self.lx.next()
                    continue
                break
            nxt = self.lx.peek()[1]
            if nxt == ";":
                self.lx.next()
                if self.lx.peek()[1] in (".", "}"):  # trailing ';' allowed
                    break
                continue
            break
        if self.lx.peek()[1] == ".":
            self.lx.next()
        return out, grps

    # -- CONSTRUCT template -------------------------------------------------

    def _template_term(self) -> tuple:
        """One CONSTRUCT template term, keeping its written FORM:
        (value, 'var'|'uri'|'lit', datatype, lang)."""
        kind, text = self.lx.next()
        if kind == "var":
            return (text, "var", None, None)
        if kind == "uri":
            return (text[1:-1], "uri", None, None)
        if kind == "pname":
            return (self._expand(text), "uri", None, None)
        if kind == "num":
            return (text, "lit", None, None)
        if kind == "word" and text == "a":
            return (M.RDF_TYPE, "uri", None, None)
        if kind == "string":
            value = _unescape(text[1:-1])
            dt = lang = None
            nxt = self.lx.peek()
            if nxt[0] == "dt":
                self.lx.next()
                dk, dtx = self.lx.next()
                if dk == "uri":
                    dt = dtx[1:-1]
                elif dk == "pname":
                    dt = self._expand(dtx)
                else:
                    raise SparqlSyntaxError(f"bad datatype token {dtx!r}")
            elif nxt[0] == "lang":
                self.lx.next()
                lang = nxt[1][1:]
            return (value, "lit", dt, lang)
        raise SparqlSyntaxError(f"unexpected template term {text!r}")

    def _construct_template(self) -> list[tuple]:
        """``CONSTRUCT { tp... }`` with ``;`` and ``,`` lists. Unlike
        patterns, template terms keep uri-vs-literal plus datatype/lang
        so the output graph carries correct ``o_kind`` metadata."""
        self.lx.expect_punct("{")
        out: list[tuple] = []
        while True:
            kind, text = self.lx.peek()
            if text == "}":
                self.lx.next()
                break
            if kind == "eof":
                raise SparqlSyntaxError("unterminated CONSTRUCT template")
            s = self._template_term()
            while True:
                p = self._template_term()
                while True:
                    out.append((s, p, self._template_term()))
                    if self.lx.peek()[1] == ",":
                        self.lx.next()
                        continue
                    break
                if self.lx.peek()[1] == ";":
                    self.lx.next()
                    if self.lx.peek()[1] in (".", "}"):  # trailing ';'
                        break
                    continue
                break
            if self.lx.peek()[1] == ".":
                self.lx.next()
        if not out:
            raise SparqlSyntaxError(
                "CONSTRUCT template needs at least one triple"
            )
        return out

    # -- expressions --------------------------------------------------------
    #
    # Every FILTER / BIND / SELECT / GROUP BY / HAVING / ORDER BY
    # expression parses once, from the query's own token stream, into
    # the tuple AST serve.compile_expr compiles to a Column (the node
    # shapes are listed there). Precedence climbing over SPARQL's
    # operator levels; an unknown function name or a wrong argument count
    # is a SparqlSyntaxError here, at parse time (a 400 over REST).

    def _expression(self, min_prec: int = 1) -> tuple:
        return self._climb(self._unary(), min_prec)

    def _climb(self, left: tuple, min_prec: int) -> tuple:
        while True:
            kind, text = self.lx.peek_op()
            if kind == "num" and text[0] in "+-" and min_prec <= 4:
                # ``?a -2``: the sign is the additive operator (SPARQL's
                # NumericLiteralPositive/Negative continuation)
                self.lx.next()
                right = self._climb(("lit", _number(text)), 5)
                left = ("call", "+", [left, right])
                continue
            word = text.lower() if kind == "word" else None
            if word in ("in", "not") and min_prec <= 3:
                self.lx.next()
                if word == "not" and self.lx.next()[1].lower() != "in":
                    raise SparqlSyntaxError("NOT must be followed by IN")
                left = ("in", left, self._arg_list("IN"), word == "not")
                continue
            prec = _BINARY_PREC.get(text) if kind in ("op", "punct") else None
            if prec is None or prec < min_prec:
                return left
            self.lx.next()
            left = ("call", text, [left, self._expression(prec + 1)])

    def _unary(self) -> tuple:
        text = self.lx.peek()[1]
        if text in ("!", "-", "+"):
            self.lx.next()
            operand = self._unary()
            if text == "+":
                return operand
            return ("call", "!" if text == "!" else "neg", [operand])
        return self._primary()

    def _close(self, hint: str) -> None:
        """Consume the ``)`` that ends an expression or argument list;
        anything else there (``LIKE``, ``IS``, a stray term) is not
        SPARQL and is named in the error."""
        text = self.lx.next()[1]
        if text != ")":
            raise SparqlSyntaxError(
                f"unexpected {text or 'end of query'!r} in expression "
                f"({hint})"
            )

    def _arg_list(self, name: str) -> list[tuple]:
        """``( expr, ... )`` — possibly empty."""
        self.lx.expect_punct("(")
        args: list[tuple] = []
        if self.lx.peek()[1] != ")":
            self._calls.append(name)
            while True:
                args.append(self._expression())
                if self.lx.peek()[1] != ",":
                    break
                self.lx.next()
            self._calls.pop()
        self._close(f"arguments of {name.upper()}(...)")
        return args

    def _primary(self) -> tuple:
        kind, text = self.lx.next()
        if text == "(":
            node = self._expression()
            self._close("expected ')'")
            return node
        if kind == "var":
            return ("var", text[1:])
        if kind == "string":
            # a typed or tagged literal compares by its lexical form,
            # like the pattern terms
            if self.lx.peek()[0] == "dt":
                self.lx.next()
                if self.lx.next()[0] not in ("uri", "pname"):
                    raise SparqlSyntaxError("bad datatype token")
            elif self.lx.peek()[0] == "lang":
                self.lx.next()
            return ("lit", _unescape(text[1:-1]))
        if kind == "num":
            return ("lit", _number(text))
        if kind in ("uri", "pname"):
            if self.lx.peek()[1] == "(":
                raise SparqlSyntaxError(
                    f"cast syntax {text}(...) is not supported "
                    "(comparisons run over lexical forms; unquoted "
                    "numeric literals already compare numerically; "
                    "try_cast(expr AS type) converts explicitly)"
                )
            return ("iri", text[1:-1] if kind == "uri" else self._expand(text))
        if kind == "word":
            name = text.lower()
            if self.lx.peek()[1] == "(":
                if name in _AGG_FUNCS:
                    return self._aggregate_call(name)
                if name == "try_cast":
                    return self._try_cast()
                return self._call(name, self._arg_list(name))
            if name in ("true", "false"):
                return ("lit", name == "true")
        raise SparqlSyntaxError(
            f"unexpected {text or 'end of query'!r} in expression"
        )

    def _try_cast(self) -> tuple:
        """``try_cast(expr AS type)`` — explicit coercion whose failure is
        NULL (SPARQL's expression error), not an ANSI throw."""
        self.lx.expect_punct("(")
        node = self._expression()
        if self.lx.next_word() != "as":
            raise SparqlSyntaxError("cast syntax is try_cast(expr AS type)")
        self.lx.next()
        kind, t = self.lx.next()
        if kind != "word" or t.lower() not in _CAST_TYPES:
            raise SparqlSyntaxError(
                f"cast syntax: try_cast to {t!r} is not supported (types: "
                f"{sorted(_CAST_TYPES)})"
            )
        self._close("try_cast(expr AS type)")
        return ("cast", node, t.lower())

    def _aggregate_call(self, func: str) -> tuple:
        """``FUNC([DISTINCT] expr | *)`` and ``GROUP_CONCAT([DISTINCT]
        expr [; SEPARATOR="..."])`` → ("agg", func, distinct, operand
        or None for ``*``, separator)."""
        self.lx.expect_punct("(")
        distinct = self.lx.next_word() == "distinct"
        if distinct:
            self.lx.next()
        self._calls.append(func)
        if self.lx.peek()[1] == "*":
            self.lx.next()
            if func != "count":
                raise SparqlSyntaxError(f"{func.upper()} needs a ?var")
            arg = None
        else:
            arg = self._expression()
        self._calls.pop()
        sep = " "  # SPARQL 1.1 §18.5.1.7: GROUP_CONCAT's default
        if func == "group_concat" and self.lx.peek()[1] == ";":
            self.lx.next()
            kw, eq, lit = self.lx.next(), self.lx.next(), self.lx.next()
            if (kw[1].lower(), eq[1], lit[0]) != ("separator", "=", "string"):
                raise SparqlSyntaxError(
                    'malformed GROUP_CONCAT — expected GROUP_CONCAT('
                    '[DISTINCT] ?var [; SEPARATOR="..."])'
                )
            sep = _unescape(lit[1][1:-1])
        self._close(f"arguments of {func.upper()}(...)")
        return ("agg", func, distinct, arg, sep)

    def _call(self, name: str, args: list[tuple]) -> tuple:
        """A named built-in call, checked against serve.BUILTIN_ARITY
        and the forms a few built-ins constrain."""
        if name in ("rand", "now", "uuid", "struuid", "bnode"):
            raise SparqlSyntaxError(
                f"built-in {name.upper()}() is nondeterministic and "
                "unsupported by design: a solution must be reproducible "
                "across retried Spark tasks, and a nondeterministic "
                "expression could differ between a task attempt and its "
                "retry"
            )
        if name == "timezone":
            raise SparqlSyntaxError(
                "TIMEZONE() returns xsd:dayTimeDuration, which the engine "
                "does not model — use TZ() (the lexical timezone string: "
                "'Z', '+05:00', or '')"
            )
        if name not in BUILTIN_ARITY:
            raise SparqlSyntaxError(
                f"unknown aggregate or built-in function {name!r} "
                f"(supported built-ins: {sorted(BUILTIN_ARITY)} + "
                "try_cast; aggregates belong in the SELECT clause)"
            )
        lo, hi = BUILTIN_ARITY[name]
        if not lo <= len(args) <= (hi if hi is not None else len(args)):
            want = lo if lo == hi else f"{lo} to {hi}" if hi else f"≥{lo}"
            where = (
                f" (nested in {' > '.join(c.upper() for c in self._calls)})"
                if self._calls else ""
            )
            raise SparqlSyntaxError(
                f"{name.upper()}() takes {want} argument(s), got "
                f"{len(args)}{where}"
            )
        if name in KIND_BUILTINS or name in _CONSTRUCTORS:
            self.q.needs_kinds = True
        if name in KIND_BUILTINS or name == "bound":
            if args[0][0] != "var":
                raise SparqlSyntaxError(
                    f"{name.upper()}() takes a ?var operand"
                )
        if name == "sameterm" and not (
            args[1][0] == "var"
            or (args[1][0] == "lit" and isinstance(args[1][1], str))
        ):
            raise SparqlSyntaxError(
                "unknown aggregate or built-in function form: sameTerm "
                "takes a ?var and a ?var or a plain string literal"
            )
        if len(args) == hi and name in ("regex", "replace"):
            flags = args[-1]
            if flags[0] != "lit" or not isinstance(flags[1], str):
                raise SparqlSyntaxError(
                    f"{name.upper()} flags must be a string literal"
                )
            bad = sorted(set(flags[1]) - set("ismx"))
            if bad:
                raise SparqlSyntaxError(
                    f"unsupported {name.upper()} flag(s) {bad} — supported "
                    "flags are i/s/m/x (XPath 'q' literal mode has no "
                    "Java-regex embedded form)"
                )
        if name == "strlang" and not (
            args[1][0] == "lit" and isinstance(args[1][1], str)
        ):
            raise SparqlSyntaxError("STRLANG needs a \"tag\" literal")
        if name == "strdt" and args[1][0] != "iri":
            raise SparqlSyntaxError("STRDT needs a datatype IRI")
        return ("call", name, args)

    def _hoist(self, node: tuple, where: str, aggs: bool = False) -> tuple:
        """The one pass over a parsed expression before it is stored:
        where aggregates are allowed (SELECT expressions, HAVING, ORDER
        BY) each one, at any depth, becomes a hidden ``?__aggN`` alias
        computed alongside the SELECT aggregates; elsewhere it is
        refused. Term constructors are refused too — a BIND checks its
        root before calling this."""
        kind = node[0]
        if kind == "agg":
            if not aggs:
                raise SparqlSyntaxError(
                    f"aggregate {node[1].upper()}(...) is not allowed in "
                    f"{where} (aggregates belong in SELECT expressions, "
                    "HAVING and ORDER BY)"
                )
            return ("var", self._register_aggregate(node))
        if kind == "call":
            if node[1] in _CONSTRUCTORS:
                raise SparqlSyntaxError(
                    f"term constructor {node[1].upper()}() is supported "
                    "only as the top-level form of a BIND(... AS ?v) "
                    "expression"
                )
            return ("call", node[1], [self._hoist(a, where, aggs) for a in node[2]])
        if kind == "cast":
            return ("cast", self._hoist(node[1], where, aggs), node[2])
        if kind == "in":
            return (
                "in",
                self._hoist(node[1], where, aggs),
                [self._hoist(a, where, aggs) for a in node[2]],
                node[3],
            )
        return node

    def _register_aggregate(self, node: tuple, alias: str | None = None) -> str:
        """Record one aggregate in ``q.aggregates`` under ``alias`` (a
        hidden ``__aggN`` when it sits inside a larger expression). An
        EXPRESSION operand (``SUM(?a * ?b)``) evaluates as a hidden
        reserved-name BIND aggregated like a plain variable, by its
        native column type."""
        _, func, distinct, arg, sep = node
        alias = alias or f"__agg{len(self.q.aggregates)}"
        if arg is None or arg[0] == "var":
            var = None if arg is None else arg[1]
        else:
            if distinct:
                raise SparqlSyntaxError(
                    "DISTINCT combines only with a plain ?var"
                )
            var = f"__aggx{len(self.q.agg_expr_binds)}"
            self.q.agg_expr_binds.append(
                (self._hoist(arg, "an aggregate operand"), var)
            )
        self.q.aggregates.append((func, var, distinct, alias))
        if func == "group_concat":
            self.q.agg_separators[alias] = sep
        return alias

    def _expr_as(self, hint: str, need_as: bool) -> tuple[tuple, str | None]:
        """``( expression [AS ?var] )`` — BIND, SELECT and GROUP BY."""
        self.lx.expect_punct("(")
        node = self._expression()
        alias = None
        if self.lx.next_word() == "as":
            self.lx.next()
            kind, text = self.lx.next()
            if kind != "var":
                raise SparqlSyntaxError(f"AS needs a ?var, got {text!r}")
            alias = text[1:]
        elif need_as and self.lx.peek()[1] == ")":
            raise SparqlSyntaxError(hint)
        self._close(hint)
        return node, alias

    def _constraint(self, what: str) -> tuple:
        """A FILTER / HAVING constraint: ``( expr )`` or a bare call."""
        kind, text = self.lx.peek()
        if text == "(":
            self.lx.next()
            node = self._expression()
            self._close("expected ')'")
            return node
        if kind == "word":
            return self._primary()
        raise SparqlSyntaxError(f"{what} needs a parenthesized expression")

    def _bind(self) -> tuple:
        """``BIND(expr AS ?v)`` → the ("bind", (expr, var, meta)) group
        entry. The RDF term CONSTRUCTORS (SPARQL 17.4.2.5-8) are
        recognized at the TOP level of the expression only: the value is
        the inner expression's lexical form, and the constructed term's
        kind / datatype / language tag ride along as constant metadata —
        serve attaches them as companion columns under ``with_kinds``,
        so LANG()/DATATYPE()/isURI() over the bound variable and the
        REST layer's W3C term typing both see the constructed type.
        ``IRI()`` does not resolve relative references (the dialect has
        no BASE; every URI the engine mints is absolute)."""
        node, var = self._expr_as(
            "BIND needs the form (expression AS ?var)", need_as=True
        )
        meta = None
        if node[0] == "call" and node[1] in _CONSTRUCTORS:
            name, args = node[1], node[2]
            meta = (
                {"kind": "uri"} if name in ("iri", "uri")
                else {"kind": "literal", "lang": args[1][1]}
                if name == "strlang"
                else {"kind": "literal", "datatype": args[1][1]}
            )
            node = self._hoist(args[0], "BIND")
        else:
            node = self._hoist(node, "BIND")
        return ("bind", (node, var, meta))

    # -- top level ---------------------------------------------------------

    def parse(self) -> ParsedQuery:
        while self.lx.next_word() == "prefix":
            self.lx.next()
            kind, name = self.lx.next()
            if kind != "pname" or not name.endswith(":"):
                raise SparqlSyntaxError(f"bad prefix name {name!r}")
            pfx = name.split(":", 1)[0]
            kind, uri = self.lx.next()
            if kind != "uri":
                raise SparqlSyntaxError(f"prefix {pfx!r} needs a <uri>")
            self.prefixes[pfx] = uri[1:-1]
        word = self.lx.next_word()
        if word in _UNSUPPORTED:
            raise SparqlSyntaxError(f"{word.upper()} queries are not supported")
        if word == "ask":  # ASK { ... }: any solution exists?
            self.lx.next()
            self.q.ask = True
            self._dataset_clauses()
            if self.lx.next_word() == "where":
                self.lx.next()
            self._group_body()
            if self.lx.peek()[0] != "eof":
                raise SparqlSyntaxError(
                    "ASK takes no solution modifiers"
                )
            return self.q
        if word == "describe":
            self.lx.next()
            terms: list[str] = []
            while True:
                kind, text = self.lx.peek()
                if kind == "var":
                    self.lx.next()
                    terms.append(text)
                elif kind == "uri":
                    self.lx.next()
                    terms.append(text[1:-1])
                elif kind == "pname":
                    self.lx.next()
                    terms.append(self._expand(text))
                else:
                    break
            if not terms:
                raise SparqlSyntaxError(
                    "DESCRIBE needs at least one <resource> or ?var"
                )
            self.q.describe = terms
            self._dataset_clauses()
            if self.lx.next_word() == "where":
                self.lx.next()
                self._group_body()
            elif self.lx.peek()[1] == "{":
                self._group_body()
            has_vars = any(t.startswith("?") for t in terms)
            if has_vars and not (self.q.patterns or self.q.groups):
                raise SparqlSyntaxError(
                    "DESCRIBE ?var needs a WHERE group binding it"
                )
            self._solution_modifiers()
            if self.q.group_by or self.q.having:
                raise SparqlSyntaxError(
                    "DESCRIBE takes no GROUP BY / HAVING"
                )
            if self.lx.peek()[0] != "eof":
                raise SparqlSyntaxError(
                    f"trailing input at {self.lx.peek()[1]!r}"
                )
            return self.q
        if word == "construct":
            self.lx.next()
            if self.lx.next_word() == "from":
                # §10.2.2 shorthand grammar admits DatasetClause*
                # between CONSTRUCT and WHERE
                self._dataset_clauses()
                if self.lx.next_word() != "where":
                    raise SparqlSyntaxError(
                        "CONSTRUCT FROM ... needs WHERE { ... } (the "
                        "shorthand form) or a template before FROM"
                    )
            if self.lx.next_word() == "where":
                # §10.2.2 CONSTRUCT WHERE { ... } shorthand: the WHERE
                # group IS the template. Parse the braced block twice —
                # once as a template (keeps each term's written form for
                # o_kind metadata), once as the pattern group; anything
                # beyond plain triple patterns (FILTER, OPTIONAL, paths)
                # is refused below, per the spec's BGP-only restriction.
                self.lx.next()
                mark = self.lx.save()
                self.q.construct = self._construct_template()
                self.lx.restore(mark)
                self._group_body()
                if self.q.filters or self.q.groups:
                    raise SparqlSyntaxError(
                        "CONSTRUCT WHERE takes plain triple patterns "
                        "only (no FILTER/OPTIONAL/UNION/paths) — use "
                        "the explicit-template form"
                    )
                self._solution_modifiers()
                if self.q.group_by or self.q.having:
                    raise SparqlSyntaxError(
                        "CONSTRUCT takes no GROUP BY / HAVING"
                    )
                if self.lx.peek()[0] != "eof":
                    raise SparqlSyntaxError(
                        f"trailing input at {self.lx.peek()[1]!r}"
                    )
                return self.q
            self.q.construct = self._construct_template()
            self._dataset_clauses()
            if self.lx.next_word() == "where":
                self.lx.next()
            self._group_body()
            self._solution_modifiers()
            if self.q.group_by or self.q.having:
                raise SparqlSyntaxError(
                    "CONSTRUCT takes no GROUP BY / HAVING"
                )
            if self.lx.peek()[0] != "eof":
                raise SparqlSyntaxError(
                    f"trailing input at {self.lx.peek()[1]!r}"
                )
            return self.q
        if word in (
            "insert", "delete", "load", "clear", "drop",
            "create", "with", "move", "copy", "add",
        ):
            raise SparqlSyntaxError(
                f"SPARQL Update ({word.upper()}) is not supported on "
                "the read endpoint — graph lifecycle goes through the "
                "pipeline surfaces: write_triples (per-graph "
                "replace), sources.io.delete_datasets / "
                "run_pipeline.py --delete-datasets (DROP GRAPH), "
                "run_transcripts_job (load)"
            )
        if word != "select":
            raise SparqlSyntaxError(
                "query must start with SELECT, ASK, CONSTRUCT or "
                "DESCRIBE"
            )
        self.lx.next()
        return self._parse_select_rest()

    def _parse_select_rest(self, closing: str | None = None) -> ParsedQuery:
        """Everything after the ``SELECT`` keyword: projection, WHERE
        group, solution modifiers, aggregate validation. ``closing``
        is None for a top-level query (must end at EOF) or ``"}"`` for
        a subquery (must end at its closing brace)."""
        if self.lx.next_word() == "distinct":
            self.lx.next()
            self.q.distinct = True
        kind, text = self.lx.peek()
        if text == "*":
            self.lx.next()
        else:
            proj: list[str] = []
            while True:
                kind, text = self.lx.peek()
                if kind == "var":
                    proj.append(self.lx.next()[1][1:])
                elif text == "(":
                    proj.append(self._select_item())
                else:
                    break
            if not proj:
                raise SparqlSyntaxError("SELECT needs ?vars, aggregates or *")
            self.q.project = proj
        self._dataset_clauses(allowed=closing is None)
        if self.lx.next_word() == "where":
            self.lx.next()
        self._group_body()
        self._solution_modifiers()
        if self.lx.next_word() == "values":
            # trailing ValuesClause (the grammar's final production):
            # per §18.2.4 it joins AFTER grouping/HAVING, before the
            # SELECT expressions — stashed separately from groups
            self.lx.next()
            self.q.post_values = self._values_clause()
        if closing is None:
            if self.lx.peek()[0] != "eof":
                raise SparqlSyntaxError(
                    f"trailing input at {self.lx.peek()[1]!r}"
                )
        else:
            self.lx.expect_punct(closing)
        # hidden expression-aggregate operands evaluate as trailing
        # BINDs — appended AFTER the body so they see every bound
        # variable (OPTIONAL/UNION/subquery-born included). ORDER BY
        # expression keys (?__ordxN) are NOT appended when (a) the
        # query aggregates — grouping would drop the pre-aggregation
        # column — or (b) the key reads a SELECT-expression alias,
        # which only exists after select_exprs apply; in both cases
        # ``_solve``'s ORDER BY key hook recomputes the key over the
        # grouped / expression-extended solutions
        agg_query = bool(self.q.aggregates or self.q.group_by)
        sel_aliases = {a for _, a in self.q.select_exprs}
        for expr, name in self.q.agg_expr_binds:
            if name.startswith("__ordx") and (
                agg_query or (sel_aliases & expr_vars(expr))
            ):
                continue
            self.q.groups.append(("bind", (expr, name, None)))
        q = self.q
        expr_aliases = [a for _, a in q.select_exprs]
        if q.aggregates or q.group_by:
            aliases = [a for _, _, _, a in q.aggregates] + expr_aliases
            if len(set(aliases)) != len(aliases):
                raise SparqlSyntaxError("duplicate aggregate alias")
            clash = set(aliases) & set(q.group_by)
            if clash:
                raise SparqlSyntaxError(
                    f"aggregate alias(es) {sorted(clash)} collide with "
                    "GROUP BY variables"
                )
            bad = [
                v
                for v in (q.project or [])
                if v not in aliases and v not in q.group_by
            ]
            if bad:
                raise SparqlSyntaxError(
                    f"projected variable(s) {bad} are neither grouped "
                    "nor aggregated"
                )
            if q.project is None:
                raise SparqlSyntaxError(
                    "SELECT * cannot be combined with aggregation"
                )
            # SELECT DISTINCT + aggregation is plain spec semantics:
            # DISTINCT dedups the PROJECTED rows after grouping — it
            # only changes the result when the projection drops some
            # GROUP BY variables (select_text's distinct branch)
        else:
            if q.having:
                raise SparqlSyntaxError("HAVING needs GROUP BY or aggregates")
            if len(set(expr_aliases)) != len(expr_aliases):
                raise SparqlSyntaxError("duplicate SELECT expression alias")
        return q

    def _group_body(self) -> None:
        self.lx.expect_punct("{")
        while True:
            kind, text = self.lx.peek()
            if text == "}":
                self.lx.next()
                return
            if kind == "eof":
                raise SparqlSyntaxError("unterminated group")
            word = self.lx.next_word()
            if word in _UNSUPPORTED:
                raise SparqlSyntaxError(f"{word.upper()} is not supported")
            if word in ("optional", "minus"):
                # positional algebra ops (group order matters): a LEFT
                # join / LEFT ANTI join downstream
                self.lx.next()
                self.q.groups.append((word, self._child_body(word.upper())))
            elif word == "filter":
                self.lx.next()
                nxt = self.lx.next_word()
                if nxt in ("exists", "not"):
                    positive = nxt == "exists"
                    self.lx.next()
                    if not positive:
                        if self.lx.next_word() != "exists":
                            raise SparqlSyntaxError(
                                "FILTER NOT must be followed by "
                                "EXISTS { ... }"
                            )
                        self.lx.next()
                    self.q.groups.append((
                        "exists",
                        (self._child_body("FILTER EXISTS"), positive),
                    ))
                else:
                    self.q.filters.append(
                        self._hoist(self._constraint("FILTER"), "FILTER")
                    )
            elif word == "bind":
                self.lx.next()
                self.q.groups.append(self._bind())
            elif word == "values":
                self.lx.next()
                self.q.groups.append(("values", self._values_clause()))
            elif word == "graph":
                # GRAPH <uri>|?var { body } — named graphs are the
                # dataset partitions (serve._eval_graph)
                self.lx.next()
                gkind, gtext = self.lx.peek()
                if gkind == "var":
                    g = self._term()
                elif gkind == "uri":
                    self.lx.next()
                    g = gtext[1:-1]
                elif gkind == "pname":
                    self.lx.next()
                    g = self._expand(gtext)
                else:
                    raise SparqlSyntaxError(
                        "GRAPH needs a <uri> or ?var, got "
                        f"{gtext!r}"
                    )
                cq = self._child_body("GRAPH")
                if _is_pat_var(g):
                    _refuse_in_graph_var(cq)
                self.q.groups.append(("graph", (g, cq)))
            elif text == "{" and self._braces_open_subquery():
                # { SELECT ... } — a SPARQL 1.1 subquery: parsed with a
                # child parser on the SAME lexer (stops at the closing
                # brace); the outer query joins its projected solutions
                # on the shared variables, evaluated bottom-up
                self.lx.next()  # consume '{'
                self.lx.next()  # consume SELECT
                sub = self._child()
                self.q.groups.append(
                    ("subquery", sub._parse_select_rest(closing="}"))
                )
            elif text == "{":
                branches = [self._child_body()]
                while self.lx.next_word() == "union":
                    self.lx.next()
                    if self.lx.peek()[1] != "{":
                        raise SparqlSyntaxError("UNION needs a braced group")
                    branches.append(self._child_body())
                if len(branches) < 2:
                    raise SparqlSyntaxError(
                        "a braced group must be a {A} UNION {B} expression"
                    )
                empty = [
                    i
                    for i, b in enumerate(branches)
                    if not b.patterns and not b.groups
                ]
                if empty:
                    raise SparqlSyntaxError(
                        f"UNION branch {empty[0] + 1} has no triple "
                        "patterns"
                    )
                self.q.groups.append(("union", branches))
            else:
                pats, grps = self._triple_lists()
                self.q.patterns.extend(pats)
                self.q.groups.extend(grps)

    def _values_row_term(self) -> str | None:
        """One VALUES data term: constant or UNDEF (→ None = unbound)."""
        if self.lx.next_word() == "undef":
            self.lx.next()
            return None
        kind, text = self.lx.peek()
        if kind == "var":
            raise SparqlSyntaxError("VALUES data must be constants or UNDEF")
        return self._term()

    def _values_clause(self) -> tuple[list[str], list[tuple]]:
        """``VALUES ?x { t... }`` or ``VALUES (?x ?y) { (t t) ... }``."""
        single = self.lx.peek()[0] == "var"
        if single:
            names = [self.lx.next()[1][1:]]
        else:
            self.lx.expect_punct("(")
            names = []
            while self.lx.peek()[0] == "var":
                names.append(self.lx.next()[1][1:])
            self.lx.expect_punct(")")
            if not names:
                raise SparqlSyntaxError("VALUES needs at least one ?var")
        self.lx.expect_punct("{")
        rows: list[tuple] = []
        while True:
            kind, text = self.lx.peek()
            if text == "}":
                self.lx.next()
                break
            if kind == "eof":
                raise SparqlSyntaxError("unterminated VALUES block")
            if single:
                rows.append((self._values_row_term(),))
            else:
                self.lx.expect_punct("(")
                row = []
                while self.lx.peek()[1] != ")":
                    if self.lx.peek()[0] == "eof":
                        raise SparqlSyntaxError("unterminated VALUES row")
                    row.append(self._values_row_term())
                self.lx.next()
                if len(row) != len(names):
                    raise SparqlSyntaxError(
                        f"VALUES row arity {len(row)} != {len(names)} vars"
                    )
                rows.append(tuple(row))
        if not rows:
            raise SparqlSyntaxError("VALUES needs at least one data row")
        return names, rows

    def _dataset_clauses(self, allowed: bool = True) -> None:
        """``(FROM [NAMED] <uri>)*`` — the dataset description between
        the projection/template and WHERE (SPARQL 13.2)."""
        while self.lx.next_word() == "from":
            if not allowed:
                raise SparqlSyntaxError(
                    "FROM/FROM NAMED are not allowed in a subquery"
                )
            self.lx.next()
            named = False
            if self.lx.next_word() == "named":
                self.lx.next()
                named = True
            kind, text = self.lx.next()
            if kind == "uri":
                uri = text[1:-1]
            elif kind == "pname":
                uri = self._expand(text)
            else:
                raise SparqlSyntaxError(
                    f"FROM{' NAMED' if named else ''} needs a graph "
                    f"<uri>, got {text!r}"
                )
            (self.q.from_named if named else self.q.from_graphs).append(uri)

    def _order_expr_key(self, node: tuple) -> str:
        """ORDER BY expression key → hidden BIND column (same
        machinery as expression aggregates; evaluated over full
        solutions — or recomputed over the GROUPED solutions under
        aggregation — and dropped from the output). Aggregate calls
        in the key (``ORDER BY DESC(COUNT(?x))``) become hidden
        aggregate aliases first, like HAVING's."""
        node = self._hoist(node, "ORDER BY", aggs=True)
        name = "__ordx%d" % sum(
            1 for _, n in self.q.agg_expr_binds if n.startswith("__ordx")
        )
        self.q.agg_expr_binds.append((node, name))
        return name

    def _select_item(self) -> str:
        """One parenthesized SELECT item ``(expr AS ?alias)``; returns
        the alias. A whole-item aggregate (``(SUM(?x) AS ?s)``) is that
        aggregate under the alias; aggregates inside a larger expression
        (``(COUNT(?x) * 2 AS ?d)``) become hidden aliases and the
        expression evaluates over the GROUPED solutions (``_solve``
        applies select_exprs after ``_aggregate``, which keeps the hidden
        aliases exactly while something still reads them)."""
        node, alias = self._expr_as(
            "SELECT (...) needs an aggregate or 'expression AS ?alias'",
            need_as=True,
        )
        if node[0] == "agg":
            return self._register_aggregate(node, alias)
        self.q.select_exprs.append(
            (self._hoist(node, "SELECT", aggs=True), alias)
        )
        return alias

    def _call_ahead(self) -> bool:
        """Is the next token a word starting a call — a bare GROUP BY /
        ORDER BY key such as ``strlen(?o)``?"""
        word = self.lx.next_word()
        if word is None or word in ("having", "order", "limit", "offset", "values"):
            return False
        st = self.lx.save()
        self.lx.next()
        is_call = self.lx.peek()[1] == "("
        self.lx.restore(st)
        return is_call

    def _solution_modifiers(self) -> None:
        if self.lx.next_word() == "group":
            self.lx.next()
            if self.lx.next_word() != "by":
                raise SparqlSyntaxError("GROUP must be followed by BY")
            self.lx.next()
            while True:
                kind, text = self.lx.peek()
                if kind == "var":
                    self.q.group_by.append(self.lx.next()[1][1:])
                    continue
                # GroupCondition's expression forms: '(' expr [AS ?v]
                # ')' and a bare BUILTIN(...) — the expression evaluates
                # as a pre-aggregation hidden BIND and the alias (or a
                # reserved __grpx name, groupable but unprojectable)
                # joins the grouping keys
                if text == "(":
                    node, name = self._expr_as(
                        "GROUP BY (expression [AS ?var])", need_as=False
                    )
                elif self._call_ahead():
                    node, name = self._primary(), None
                else:
                    break
                if name is None:
                    name = "__grpx%d" % sum(
                        1 for g in self.q.group_by if g.startswith("__grpx")
                    )
                if name in self.q.group_by:
                    raise SparqlSyntaxError(
                        f"GROUP BY binds ?{name} twice"
                    )
                self.q.agg_expr_binds.append(
                    (self._hoist(node, "GROUP BY"), name)
                )
                self.q.group_by.append(name)
            if not self.q.group_by:
                raise SparqlSyntaxError(
                    "GROUP BY needs at least one ?var or (expression)"
                )
        if self.lx.next_word() == "having":
            self.lx.next()
            while True:
                self.q.having.append(
                    self._hoist(self._constraint("HAVING"), "HAVING", True)
                )
                if self.lx.peek()[1] != "(":
                    break
        if self.lx.next_word() == "order":
            self.lx.next()
            if self.lx.next_word() != "by":
                raise SparqlSyntaxError("ORDER must be followed by BY")
            self.lx.next()
            any_key = False
            while True:
                kind, text = self.lx.peek()
                sign = ""
                if kind == "word" and text.lower() in ("asc", "desc"):
                    sign = "-" if text.lower() == "desc" else ""
                    self.lx.next()
                    self.lx.expect_punct("(")
                    node = self._expression()
                    self._close("expected ')'")
                elif kind == "var" or text == "(" or self._call_ahead():
                    # a ?var, a bracketted expression or a bare
                    # BUILTIN(...) call; any other word (LIMIT, OFFSET,
                    # VALUES) ends the keys
                    node = self._primary()
                else:
                    break
                self.q.order_by.append(
                    sign + "?" + (
                        node[1] if node[0] == "var"
                        else self._order_expr_key(node)
                    )
                )
                any_key = True
            if not any_key:
                raise SparqlSyntaxError("ORDER BY needs at least one key")
        while True:  # LIMIT / OFFSET, either order, each at most once
            word = self.lx.next_word()
            if word == "limit" and self.q.limit is None:
                self.lx.next()
                kind, text = self.lx.next()
                if kind != "num" or "." in text or int(text) < 0:
                    raise SparqlSyntaxError(
                        "LIMIT needs a non-negative integer"
                    )
                self.q.limit = int(text)
            elif word == "offset" and self.q.offset is None:
                self.lx.next()
                kind, text = self.lx.next()
                if kind != "num" or "." in text or int(text) < 0:
                    raise SparqlSyntaxError(
                        "OFFSET needs a non-negative integer"
                    )
                self.q.offset = int(text)
            else:
                break


def _refuse_in_graph_var(q: ParsedQuery) -> None:
    """The two group operators a ``GRAPH ?var`` body cannot hold, at
    any depth: a quantified property path (its closure would have to
    run per named graph) and a subquery (the active graph would have
    to substitute past its projection). A nested GRAPH switches the
    active graph, so its own body is not searched."""
    for kind, payload in q.groups:
        if kind == "path":
            raise SparqlSyntaxError(
                "a quantified property path inside GRAPH ?var is not "
                "supported (the closure would have to run per named "
                "graph) — bind the graph with a constant"
            )
        if kind == "subquery":
            raise SparqlSyntaxError(
                "a subquery inside GRAPH ?var is not supported (the "
                "active graph would have to substitute past the "
                "subquery's projection) — bind the graph with a "
                "constant, or move the subquery outside the GRAPH "
                "clause"
            )
        if kind in ("optional", "minus"):
            _refuse_in_graph_var(payload)
        elif kind == "exists":
            _refuse_in_graph_var(payload[0])
        elif kind == "union":
            for branch in payload:
                _refuse_in_graph_var(branch)


def parse_select(query: str) -> ParsedQuery:
    """Parse a SPARQL query string into :class:`ParsedQuery` (the
    group :func:`~linkedspending_spark.serve.eval_group` evaluates +
    form, projection and modifiers). Raises
    :class:`SparqlSyntaxError` on anything outside the dialect."""
    return _Parser(query).parse()


def _aggregate(df: DataFrame, q: ParsedQuery) -> DataFrame:
    """GROUP BY + aggregates over the solution set. Plans as a hash
    aggregate with map-side partial combine (the groupBy shuffle moves
    per-group partials, not solutions) — the right 100-TB shape.

    SUM types like SPARQL 1.1: when EVERY operand's lexical form is an
    integer, the sum aggregates as long (→ ``xsd:integer`` in the W3C
    output); any non-integer lexical form makes the whole query's SUM
    over that variable a double. Decided by two typing counts per
    variable — per QUERY, not per group (documented approximation:
    SPARQL types each group's sum separately). With GROUP BY the counts
    are ONE narrow pre-scan job over the solutions (the ivf
    count+max(abs) idiom) and only the picked cast is aggregated;
    without GROUP BY they ride in the aggregate's own one-row plan
    beside both typed sums, so the one collect that types the sums is
    the answer (:func:`_typed_sum_row`). AVG
    casts to double (SPARQL says ``xsd:decimal`` for integer operands
    — documented divergence). Non-numeric lexical forms → NULL,
    ignored by the aggregate, matching SPARQL's error-drop;
    MIN/MAX/SAMPLE stay on the lexical string.

    EXPRESSION operands (``SUM(?a * ?b)``) aggregate their hidden
    BIND column's native type directly: ``SUM(?o * 2)`` over integer
    forms sums as long → ``xsd:integer``, while ``?a * ?b`` between two
    lexical-form variables reads both as doubles and sums as
    ``xsd:double`` (SPARQL would type two integers' product as an
    integer — documented divergence). Arithmetic over a lexical form that is
    not a number is NULL for its row (same as BIND), so the aggregate
    skips it — SPARQL's error-drop."""
    missing = [v for v in q.group_by if v not in df.columns]
    if missing:
        raise SparqlSyntaxError(
            f"GROUP BY variable(s) {missing} are bound by no pattern"
        )
    dtypes = dict(df.dtypes)
    sum_vars = sorted({
        var
        for func, var, _, _ in q.aggregates
        # the lexical-form long-vs-double typing applies to STRING
        # columns only: a hidden expression column already carries its
        # native numeric type (try_cast(double AS long) truncates, so
        # typing one that way would mistype fractional sums)
        if func == "sum"
        and var is not None
        and dtypes.get(var) == "string"
    })
    # numeric operands only: a non-numeric lexical form is DROPPED
    # (error-drop, see below), so it must not demote the sum type
    counts = [
        F.count(F.col(v).try_cast(t)).alias(f"__{t[0]}_{v}")
        for v in sum_vars
        for t in ("double", "long")
    ]
    int_sum: set[str] = set()
    if sum_vars and q.group_by:
        checks = df.agg(*counts).first()
        int_sum = {
            v for v in sum_vars if checks[f"__d_{v}"] == checks[f"__l_{v}"]
        }
    aggs, typed = [], []
    for func, var, dist, alias in q.aggregates:
        if var is not None and var not in df.columns:
            raise SparqlSyntaxError(
                f"aggregate over unbound variable ?{var}"
            )
        if func == "count":
            if var is None and dist:
                # COUNT(DISTINCT *): distinct SOLUTIONS — struct over
                # every solution column (companions included when
                # threaded: term-identity distinctness, the SPARQL-
                # faithful reading)
                expr = F.count_distinct(
                    F.struct(*[F.col(c) for c in df.columns])
                )
            elif var is None:
                expr = F.count(F.lit(1))
            elif dist:
                expr = F.count_distinct(F.col(var))
            else:
                expr = F.count(F.col(var))
        elif func in ("sum", "avg"):
            # an integer-typed SUM casts to long; an expression operand
            # with a native (non-string) type aggregates directly —
            # Spark's own typing governs (long sums stay long, double
            # stays double); otherwise try_cast, not cast: under ANSI a
            # non-numeric lexical form must DROP from the aggregate
            # (SPARQL error-drop), not throw from inside codegen
            cast = (
                "long" if func == "sum" and var in int_sum
                else None if dtypes.get(var) != "string"
                else "double"
            )
            col = F.col(var) if cast is None else F.col(var).try_cast(cast)
            if func == "sum":
                total = F.sum_distinct if dist else F.sum
                expr = total(col)
                if var in sum_vars and not q.group_by:
                    # both typings ride in the one-row plan;
                    # _typed_sum_row picks one on the driver. The
                    # integer sum accumulates as decimal(20,0), so the
                    # one a query does not pick never overflows
                    integral = F.col(var).try_cast("long")
                    typed += [
                        total(integral.cast("decimal(20,0)"))
                        .alias(f"__sl_{alias}"),
                        expr.alias(f"__sd_{alias}"),
                    ]
                    continue
            elif dist:  # no Column API for AVG(DISTINCT)
                inner = f"`{var}`" if cast is None else (
                    f"try_cast(`{var}` as {cast})"
                )
                expr = F.expr(f"avg(DISTINCT {inner})")
            else:
                expr = F.avg(col)
        elif func == "min":
            expr = F.min(F.col(var))
        elif func == "max":
            expr = F.max(F.col(var))
        elif func == "group_concat":
            # SPARQL leaves GROUP_CONCAT order unspecified; sort the
            # collected values so the output is DETERMINISTIC across
            # partitionings/retries (documented choice — an unordered
            # concat is useless as a stable serving response).
            # collect_list/collect_set skip NULLs = SPARQL error-drop.
            gc_col = F.col(var).cast("string")  # exprs may be non-string
            collected = (
                F.collect_set(gc_col) if dist else F.collect_list(gc_col)
            )
            expr = F.array_join(
                F.array_sort(collected), q.agg_separators.get(alias, " ")
            )
        else:  # sample: any value from the group
            expr = F.first(F.col(var), ignorenulls=True)
        # MIN/MAX/SAMPLE(DISTINCT ?x) = MIN/MAX/SAMPLE(?x) per spec —
        # dedup cannot change an extremum or an arbitrary pick, so
        # DISTINCT is accepted and ignored there
        aggs.append(expr.alias(alias))
    if typed:
        df = _typed_sum_row(df, q, aggs + typed + counts, sum_vars)
    elif not aggs:  # bare GROUP BY: one row per group
        df = df.select(*q.group_by).dropDuplicates()
    elif q.group_by:
        df = df.groupBy(*q.group_by).agg(*aggs)
    else:
        df = df.agg(*aggs)
    for h in q.having:
        df = df.where(compile_expr(h, lexical_in(df)))
    # hidden aliases exist only for a direct-form HAVING, an ORDER BY
    # aggregate key, or an aggregate embedded in a SELECT expression —
    # keep the ones a pending ?__ordx key or SELECT expression still
    # reads (select_text applies those over THIS output; the projection
    # drops the hidden columns afterwards), drop the rest here
    later_reads: set[str] = set()
    for expr, name in q.agg_expr_binds:
        if name.startswith("__ordx"):
            later_reads |= expr_vars(expr)
    for expr, _alias in q.select_exprs:
        later_reads |= expr_vars(expr)
    hidden = [
        c
        for c in df.columns
        if c.startswith("__agg") and c not in later_reads
    ]
    if hidden:
        df = df.drop(*hidden)
    return df


def _typed_sum_row(
    df: DataFrame, q: ParsedQuery, aggs: list, sum_vars: list[str]
) -> DataFrame:
    """:func:`_aggregate` without GROUP BY when a SUM reads a
    lexical-form (string) variable. ``aggs`` carries each such SUM
    twice, as ``__sl_<alias>`` (``try_cast`` long, summed as decimal)
    and ``__sd_<alias>`` (double), plus each variable's two typing
    counts ``__d_<var>`` / ``__l_<var>``. The plan's one row is
    collected — the one action both types the sums and answers the
    query — and returned as a LocalRelation whose SUMs are long iff
    count(double) == count(long), else double."""
    plan = df.agg(*aggs)
    row = plan.first()
    src, longs = {}, set()
    for func, var, _, alias in q.aggregates:
        src[alias] = alias
        if func == "sum" and var in sum_vars:
            if row[f"__d_{var}"] == row[f"__l_{var}"]:
                longs.add(alias)
                src[alias] = f"__sl_{alias}"
            else:
                src[alias] = f"__sd_{alias}"
    # a picked integer sum casts back to long: past its range it fails
    # as a long SUM does
    schema = plan.select(
        *[
            (F.col(c).cast("long") if a in longs else F.col(c)).alias(a)
            for a, c in src.items()
        ]
    ).schema
    values = [
        int(row[c]) if a in longs and row[c] is not None else row[c]
        for a, c in src.items()
    ]
    return local_frame(df.sparkSession, [values], schema)


def _instantiate_construct(df: DataFrame, template: list[tuple]) -> DataFrame:
    """Instantiate a CONSTRUCT template over the solution DataFrame:
    one narrow projection per template triple, unioned (plan-level, no
    shuffle) and set-deduped (CONSTRUCT returns a GRAPH). Output is the
    engine's own triple-table shape — (s, p, o, o_kind, o_datatype,
    o_lang) — so the result feeds ``write_nt`` / ``nt_statement`` /
    further SPARQL directly.

    Semantics per the spec: a solution that leaves any template
    variable of a triple unbound skips THAT triple; a solution binding
    a subject/predicate variable to a literal (known from the
    ``<v>__kind`` companion) skips the triple too. Object variables
    carry their companion kind/datatype/lang when present; a
    companion-less value (VALUES/BIND-born) falls back to the
    ``http(s)://`` prefix heuristic."""
    from .model import KIND_LITERAL, KIND_URI

    cols = set(df.columns)

    def var_of(term) -> str | None:
        value, kind = term[0], term[1]
        if kind != "var":
            return None
        v = value[1:]
        if v not in cols:
            raise SparqlSyntaxError(
                f"CONSTRUCT template variable ?{v} is bound by no pattern"
            )
        return v

    parts = []
    for s, p, o in template:
        sv, pv, ov = var_of(s), var_of(p), var_of(o)
        sel = [
            (F.col(sv) if sv else F.lit(s[0])).alias("s"),
            (F.col(pv) if pv else F.lit(p[0])).alias("p"),
            (F.col(ov) if ov else F.lit(o[0])).alias("o"),
        ]
        if ov:  # object metadata: companions when present, else heuristic
            k, dt, lg = (f"{ov}__kind", f"{ov}__datatype", f"{ov}__lang")
            kind_col = (
                F.col(k)
                if k in cols
                else F.lit(None).cast("string")
            )
            heur = F.when(
                F.col(ov).startswith("http://")
                | F.col(ov).startswith("https://"),
                F.lit(KIND_URI),
            ).otherwise(F.lit(KIND_LITERAL))
            sel += [
                F.coalesce(kind_col, heur).alias("o_kind"),
                (F.col(dt) if dt in cols else F.lit(None).cast("string"))
                .alias("o_datatype"),
                (F.col(lg) if lg in cols else F.lit(None).cast("string"))
                .alias("o_lang"),
            ]
        else:
            sel += [
                F.lit(KIND_URI if o[1] == "uri" else KIND_LITERAL)
                .alias("o_kind"),
                F.lit(o[2]).cast("string").alias("o_datatype"),
                F.lit(o[3]).cast("string").alias("o_lang"),
            ]
        src = df
        # literal in subject/predicate position -> skip the triple
        # (companion NULL = no metadata = kept, heuristic territory)
        for v in (sv, pv):
            if v and f"{v}__kind" in cols:
                kc = F.col(f"{v}__kind")
                src = src.where(kc.isNull() | (kc == KIND_URI))
        parts.append(
            src.select(*sel).where(
                F.col("s").isNotNull()
                & F.col("p").isNotNull()
                & F.col("o").isNotNull()
            )
        )

    out = parts[0]
    for part in parts[1:]:
        out = out.unionAll(part)
    return out.dropDuplicates()


def _from_dataset_names(uris: list[str]) -> list[str]:
    """FROM graph URIs → dataset partition names (the reference's
    <PREFIX_GRAPH><name> sub-graph rule, Virtuoso.java:30). A URI
    outside the namespace names no dataset — it maps to an impossible
    partition name, so the merged graph simply contributes nothing
    (SPARQL: merging an absent graph merges the empty graph)."""
    return [
        u[len(M.PREFIX_GRAPH):]
        if u.startswith(M.PREFIX_GRAPH)
        else "\x00absent:" + u
        for u in uris
    ]


def select_text(
    triples: DataFrame,
    query: str,
    dataset: str | None = None,
    n_buckets: int | None = None,
    manifest_path: str | None = None,
    stats: dict | None = None,
    limit_cap: int | None = None,
    parsed: ParsedQuery | None = None,
    with_kinds: bool = False,
    named_datasets: list | None = None,
) -> DataFrame:
    """Run a textual SPARQL query (the reference's ``Sparql.select``
    analog, Sparql.java:26-29) over the triple table.

    Compiles through :func:`parse_select`, evaluates the WHERE group
    with :func:`~linkedspending_spark.serve.eval_group`, then applies
    the SELECT clause with SPARQL's modifier order: projection, then
    DISTINCT (over the *projected* variables), then ORDER BY, then
    OFFSET / LIMIT. Consequently ORDER BY keys must be projected when
    DISTINCT is used — SPARQL imposes the same restriction.

    ``limit_cap`` bounds the effective LIMIT (serving-path guard;
    applied even when the query has no LIMIT of its own). ``parsed``
    lets a caller that already ran :func:`parse_select` (e.g. to branch
    on ``ask``) skip the reparse.

    ``with_kinds=True`` threads RDF term typing through as
    ``<v>__kind``/``<v>__datatype``/``<v>__lang`` companion columns
    (see :func:`~linkedspending_spark.serve.eval_group`); the
    projection keeps each projected variable's companions. Aggregation
    drops them (aggregate values are typed by their OWN result type —
    counts/sums are numeric, MIN/MAX return lexical forms), and
    variables born in BIND/SELECT expressions or VALUES carry none.
    """
    q = parsed if parsed is not None else parse_select(query)
    return _solve(
        triples, q, dataset, n_buckets, manifest_path, stats, limit_cap,
        with_kinds, named_datasets,
    )[0]


def _order_slice(
    df: DataFrame, q: ParsedQuery, limit_cap, key=None, finish=None
) -> DataFrame:
    """The solution-modifier tail of every query form: ORDER BY, then
    ``finish`` (SELECT's projection), then OFFSET and LIMIT. A key that
    is no column goes to ``key(df, var)`` (SELECT recomputes expression
    keys) or is refused. ``limit_cap`` bounds the ROWS RETURNED, so it
    caps the limit, never the skip; stable paging requires ORDER BY."""
    if q.order_by:
        keys = []
        for tok in q.order_by:
            var = tok.lstrip("-").lstrip("?")
            if var not in df.columns:
                if key is None:
                    raise SparqlSyntaxError(f"ORDER BY ?{var} is unbound")
                df = key(df, var)
            keys.append(
                F.col(var).desc() if tok.startswith("-") else F.col(var).asc()
            )
        df = df.orderBy(*keys)
    if finish is not None:
        df = finish(df)
    limit = q.limit
    if limit_cap is not None:
        limit = limit_cap if limit is None else min(limit, limit_cap)
    if q.offset:
        df = df.offset(q.offset)
    if limit is not None:
        df = df.limit(limit)
    return df


def _solve(
    triples: DataFrame,
    q: ParsedQuery,
    dataset=None,
    n_buckets: int | None = None,
    manifest_path: str | None = None,
    stats: dict | None = None,
    limit_cap: int | None = None,
    with_kinds: bool = False,
    named_datasets: list | None = None,
) -> tuple[DataFrame, frozenset[str]]:
    """:func:`select_text`'s body: the query's result plus, for SELECT,
    the columns that may come back unbound — a subquery joining its
    outer group refuses those as keys (aggregate aliases over
    always-bound operands count as bound, the join-on-subquery-MAX
    idiom; the zero-solution divergence is pinned in tests)."""
    if q.from_graphs or q.from_named:
        # SPARQL 13.2 dataset description: FROM graphs merge into the
        # default graph (= a SET of dataset partitions; none listed =
        # the EMPTY default graph), FROM NAMED lists the graphs GRAPH
        # clauses may address. Mutually exclusive with the serving
        # API's own dataset= scope — refusing beats guessing their
        # intersection semantics.
        if dataset is not None:
            raise SparqlSyntaxError(
                "FROM/FROM NAMED cannot combine with the dataset= "
                "serving scope"
            )
        if "dataset" not in triples.columns:
            raise SparqlSyntaxError(
                "FROM/FROM NAMED need a triple table carrying the "
                "'dataset' partition column"
            )
        dataset = _from_dataset_names(q.from_graphs)
        named_datasets = _from_dataset_names(q.from_named)
    scope = dict(
        dataset=dataset,
        n_buckets=n_buckets,
        manifest_path=manifest_path,
        stats=stats,
        named_datasets=named_datasets,
    )
    if q.describe is not None:
        # DESCRIBE: the resource's outgoing triples (the simplest
        # concise-bounded-description — the table has no blank nodes to
        # close over). Constants push down as an In filter on the
        # subject scan; ?var resources come from the WHERE solutions
        # via a LEFT SEMI join (broadcast when small). Output is the
        # triple-table shape, like CONSTRUCT.
        meta = [
            c
            for c in ("o_kind", "o_datatype", "o_lang")
            if c in triples.columns
        ]
        base = ["s", "p", "o", *meta]
        consts = [t for t in q.describe if not t.startswith("?")]
        vars_ = [t[1:] for t in q.describe if t.startswith("?")]
        # under a FROM dataset description the description itself
        # comes from the merged default graph, not the whole store
        desc_src = (
            triples.where(F.col("dataset").isin(list(dataset)))
            if isinstance(dataset, (list, tuple))
            else triples
        )
        parts = []
        if consts:
            parts.append(
                desc_src.where(F.col("s").isin(consts)).select(*base)
            )
        if vars_:
            sols, _ = eval_group(triples, q, **scope)
            missing = [v for v in vars_ if v not in sols.columns]
            if missing:
                raise SparqlSyntaxError(
                    f"DESCRIBE variable(s) {missing} are bound by no "
                    "pattern"
                )
            sols = _order_slice(sols, q, limit_cap)
            ids = sols.select(F.col(vars_[0]).alias("s"))
            for v in vars_[1:]:
                ids = ids.unionAll(sols.select(F.col(v).alias("s")))
            parts.append(
                desc_src.join(ids.distinct(), on="s", how="left_semi")
                .select(*base)
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        return (out.dropDuplicates() if len(parts) > 1 else out), frozenset()
    if q.construct is not None and "o_kind" in triples.columns:
        # the template needs term metadata to type the output graph
        # and to skip literal-subject instantiations
        with_kinds = True
    eval_kinds = with_kinds or q.needs_kinds
    if q.needs_kinds and "o_kind" not in triples.columns:
        raise SparqlSyntaxError(
            "LANG()/DATATYPE()/langMatches()/is*() and the IRI/STRLANG/"
            "STRDT constructors need a triple table carrying term "
            "metadata (o_kind/o_datatype/o_lang columns)"
        )
    df, nullable = eval_group(triples, q, with_kinds=eval_kinds, **scope)
    nullable = set(nullable)
    # property-path rewrite variables (?__ppN chains) are NOT in scope
    # for SELECT * / DISTINCT / aggregation, but the solution MULTISET
    # keeps the multiplicity they induced — project them away, no dedup
    # here; companions threaded only for the kind built-ins' evaluation
    # leave too (the caller did not ask for them in the OUTPUT)
    hidden = [
        c
        for c in df.columns
        if c.startswith("__pp")
        or (eval_kinds and not with_kinds and _is_companion(c))
    ]
    if hidden:
        df = df.drop(*hidden)
    if q.construct is not None:
        # solution modifiers apply to the SOLUTION sequence (spec order);
        # the instantiated graph is then set-deduped
        sols = _order_slice(df, q, limit_cap)
        return _instantiate_construct(sols, q.construct), frozenset()
    if q.ask:
        # ASK: Spark-lazy boolean — a ≤1-row DataFrame; non-empty = true.
        # limit(1) means the scan stops at the first matching solution.
        return df.limit(1), frozenset()
    if q.aggregates or q.group_by:
        # grouped vars keep their (non-)nullability; an aggregate alias
        # is bound when its operand is (COUNT always)
        nullable = {v for v in q.group_by if v in nullable} | {
            alias
            for func, var, _, alias in q.aggregates
            if func != "count" and var in nullable
        }
        df = _aggregate(df, q)
    if q.post_values is not None:
        # trailing VALUES: inner join on shared vars, after grouping
        # (§18.2.4), before SELECT expressions / projection
        names, vrows = q.post_values
        v = _values_df(df.sparkSession, names, vrows)
        shared = [c for c in names if c in df.columns]
        undef = {
            c for i, c in enumerate(names) if any(r[i] is None for r in vrows)
        }
        if undef & set(shared):
            raise SparqlSyntaxError(
                f"trailing VALUES leaves shared variable(s) "
                f"{sorted(undef & set(shared))} UNDEF in some row — the "
                "compatibility join on unbound variables is not supported"
            )
        df = df.join(v, on=shared) if shared else df.crossJoin(v)
        nullable |= undef
    for expr, alias in q.select_exprs:
        missing = sorted(v for v in expr_vars(expr) if v not in df.columns)
        if missing:
            raise SparqlSyntaxError(
                f"SELECT expression for ?{alias} references "
                f"variable(s) {missing} that are "
                + ("neither grouped nor aggregated"
                   if (q.aggregates or q.group_by)
                   else "bound by no pattern")
            )
        if alias in df.columns:
            raise SparqlSyntaxError(
                f"SELECT expression alias ?{alias} is already bound"
            )
        df = df.withColumn(alias, compile_expr(expr, lexical_in(df)))
        nullable.add(alias)
    if q.project is not None:
        missing = [v for v in q.project if v not in df.columns]
        if missing:
            raise SparqlSyntaxError(
                f"projected variable(s) {missing} are bound by no pattern"
            )

    def _ordx_key(d: DataFrame, var: str) -> DataFrame:
        if not var.startswith("__ordx"):
            raise SparqlSyntaxError(
                f"ORDER BY ?{var} must be projected when DISTINCT is used"
                if q.distinct
                else f"ORDER BY ?{var} is unbound"
            )
        # expression key whose hidden pre-aggregation BIND was skipped
        # (aggregation) or dropped (explicit DISTINCT projection):
        # recompute it HERE, over the grouped/projected solutions — so
        # it may reference grouped variables and aggregate aliases, and
        # under DISTINCT only projected variables (the spec's own
        # ORDER-BY-must-be-projected restriction, applied to the
        # expression's inputs)
        expr = next((e for e, n in q.agg_expr_binds if n == var), None)
        if expr is None:  # pragma: no cover — parser invariant
            raise SparqlSyntaxError(
                f"internal: no expression for ORDER BY {var}"
            )
        missing = sorted(v for v in expr_vars(expr) if v not in d.columns)
        if any(v.startswith("__agg") for v in missing):
            # a hidden ORDER BY aggregate key, but DISTINCT already
            # projected it away — the spec's projected-keys
            # restriction, stated usefully
            raise SparqlSyntaxError(
                "ORDER BY aggregate keys combine with DISTINCT only "
                "through a projected alias — SELECT (AGG(...) AS "
                "?alias) and ORDER BY ?alias"
            )
        if missing:
            raise SparqlSyntaxError(
                f"ORDER BY expression references variable(s) {missing} "
                "that are "
                + (
                    "neither grouped nor aggregated"
                    if (q.aggregates or q.group_by)
                    else "not projected — DISTINCT restricts ORDER BY "
                    "to the projected variables"
                )
            )
        return d.withColumn(var, compile_expr(expr, lexical_in(d)))

    def _project(d: DataFrame) -> DataFrame:
        # keep each projected variable's typing companions (with_kinds)
        cols: list[str] = []
        for v in q.project:
            cols.append(v)
            if with_kinds:
                cols += _companions_of(v, d.columns)
        return d.select(*cols)

    def _finish(d: DataFrame) -> DataFrame:
        # ORDER BY evaluates over full solutions (keys need not be
        # projected); projection afterwards preserves the row order.
        # Expression ORDER BY keys are internal — SELECT * must not leak
        # them (an explicit projection already excludes them).
        if q.project is not None and not q.distinct:
            d = _project(d)
        ordx = [c for c in d.columns if c.startswith("__ordx")]
        return d.drop(*ordx) if ordx else d

    if q.distinct:
        # SPARQL: DISTINCT dedups the projection; ORDER BY keys must
        # then be projected variables (the spec's own restriction).
        # Under with_kinds the companions participate — dedup by TERM
        # identity, the SPARQL-faithful reading.
        if q.project is not None:
            df = _project(df)
        df = df.dropDuplicates()
    df = _order_slice(df, q, limit_cap, key=_ordx_key, finish=_finish)
    return df, frozenset(nullable)
