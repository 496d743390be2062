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
* ``FILTER( expr )`` — translated to a Spark SQL predicate: ``&&``/
  ``||``/``!`` become AND/OR/NOT, URIs and (typed) literals become
  string literals, ``?var`` references stay for the evaluator to
  bind. Comparison semantics follow the operand's FORM, not always the
  lexical string: a quoted literal compares lexically against the
  string column, but an unquoted numeric literal (``FILTER(?n > 5)``)
  compares numerically via ``try_cast`` — which is CLOSER to SPARQL's
  typed comparison than a lexical compare would be, and a row whose
  lexical form is not a number DROPS from the solution (SPARQL's
  expression-error semantics) instead of throwing from ANSI codegen
  (pinned in tests; do not "fix" either away). ``LANG(?x)`` /
  ``DATATYPE(?x)`` / ``langMatches(LANG(?x), "en")`` /
  ``isURI/isIRI/isLiteral(?x)`` rewrite into expressions over the
  term-metadata companions — they need a triple table carrying
  ``o_kind``/``o_datatype``/``o_lang`` (raise otherwise), as does
  ``sameTerm`` (term identity, not lexical equality); LANG of a
  URI / DATATYPE of a URI is NULL = SPARQL's expression error (row
  drops in FILTER). ``isNumeric(?x)`` tests the lexical form via
  try_cast (works on kinds-less tables); ``isBlank(?x)`` evaluates
  the kind column — constantly false over engine-built tables (the
  converter mints URIs). ``REGEX``/``REPLACE`` take the optional
  FLAGS argument (i/s/m/x fold into a Java embedded-flag prefix;
  XPath 'q' has no Java form — loud 400); ``TZ(?x)`` extracts the
  lexical timezone string ("Z", "+05:00", or ""). Other unknown
  function names and ``xsd:type(?x)`` cast syntax are rejected at
  translate time (a clean 400 on the REST path, not an analyzer 500).
* ``BIND(expr AS ?v)`` — the expression (same translator as FILTER)
  is evaluated in source order and bound to a new variable. The RDF
  term CONSTRUCTORS ``IRI/URI(expr)``, ``STRLANG(expr, "tag")`` and
  ``STRDT(expr, <dt>)`` are recognized at the BIND top level: the
  value is the inner expression's lexical form and the constructed
  kind/datatype/lang ride along as constant companions (visible to
  LANG()/DATATYPE()/isURI() downstream and to the REST layer's W3C
  term typing). Nondeterministic built-ins (RAND/NOW/UUID/STRUUID/
  BNODE) refuse by name — solutions must be reproducible across
  retried Spark tasks; TIMEZONE() points at TZ().
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
  their native column type (integer expressions sum as long);
  aggregates also embed in LARGER projection expressions
  (``(COUNT(?x) * 2 AS ?d)``, ``(SUM(?o)/COUNT(?o) AS ?m)`` — calls
  rewrite to hidden aliases, the expression evaluates over the
  grouped solutions); GROUP BY takes expression conditions
  (``GROUP BY (substr(?o,1,4) AS ?year)`` — alias projectable and
  visible to HAVING/ORDER BY; parenthesized or bare-builtin forms
  without AS group on a hidden key); SELECT DISTINCT composes with
  aggregation (dedup over the projected rows, spec modifier order);
  HAVING takes alias references AND the spec's direct form
  (``HAVING(COUNT(?x) > 5)`` / ``HAVING(SUM(?a * 2) > 5)`` — rewritten
  to hidden aliases); ORDER BY takes aggregate keys the same way
  (``ORDER BY DESC(COUNT(?x))``); a trailing
  ``VALUES`` clause joins after grouping (§18.2.4)
  — GROUP_CONCAT sorts the collected values first (SPARQL leaves the
  order unspecified; deterministic output is the serving-path choice). SUM aggregates as long when every operand's
  lexical form is an integer (→ ``xsd:integer``, SPARQL 1.1), else as
  double — decided per query by a narrow pre-scan; AVG casts to double
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
  and quantified steps evaluate as lineage-checkpointed frontier
  closure (:func:`~linkedspending_spark.serve.path_closure`): BFS from
  a constant end, full pair closure var-var (the spec's quadratic worst
  case — keep one end bound over large graphs). ``*``/``?`` include the
  spec's zero-length path (every graph node paired with itself; a
  constant end matches even when absent from the graph). Negated
  property sets ``!p`` / ``!(p1|p2)`` are a pure ``NOT IN`` scan
  constraint in predicate position
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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import model as M
from .serve import (
    _companions_of,
    _filter_vars,
    _is_companion,
    _values_df,
    eval_group,
)
from .serve import _translate_filter as _vars_to_cols

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
    | (?P<num>[+-]?\d+(?:\.\d+)?)
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
    """On-demand tokenizer over the query text. Position-based so FILTER
    bodies can be captured raw (balanced parens, quote-aware) instead of
    forcing SPARQL expression syntax through the triple-term grammar."""

    def __init__(self, text: str):
        self.text = text
        self.pos = 0
        self._peeked: tuple[str, str] | None = None
        self._peeked_start = 0

    def _scan(self) -> tuple[str, str]:
        while self.pos < len(self.text):
            m = _TOKEN.match(self.text, self.pos)
            if m is None:
                raise SparqlSyntaxError(
                    f"cannot tokenize at ...{self.text[self.pos:self.pos+30]!r}"
                )
            self.pos = m.end()
            if m.lastgroup != "ws":
                self._peeked_start = m.start()
                return m.lastgroup, m.group()
        self._peeked_start = self.pos
        return "eof", ""

    def peek(self) -> tuple[str, str]:
        if self._peeked is None:
            self._peeked = self._scan()
        return self._peeked

    def next(self) -> tuple[str, str]:
        tok = self.peek()
        self._peeked = None
        return tok

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
        return (self.pos, self._peeked, self._peeked_start)

    def restore(self, state: tuple) -> None:
        self.pos, self._peeked, self._peeked_start = state

    def raw_parens(self) -> str:
        """Capture a balanced ``( ... )`` region raw, respecting quotes."""
        if self._peeked is not None:  # un-peek: rewind to the token start
            self.pos = self._peeked_start
            self._peeked = None
        while self.pos < len(self.text) and self.text[self.pos].isspace():
            self.pos += 1
        if self.pos >= len(self.text) or self.text[self.pos] != "(":
            raise SparqlSyntaxError("FILTER needs a parenthesized expression")
        depth, i, quote = 0, self.pos, None
        while i < len(self.text):
            c = self.text[i]
            if quote:
                if c == "\\":
                    i += 1
                elif c == quote:
                    quote = None
            elif c in "\"'":
                quote = c
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    raw = self.text[self.pos + 1 : i]
                    self.pos = i + 1
                    return raw
            i += 1
        raise SparqlSyntaxError("unterminated FILTER expression")


def _call_spans_spec(raw: str) -> bool:
    """True when the FIRST function call in a ``(FUNC(...) AS ?alias)``
    SELECT item spans the whole spec — i.e. the matching close paren is
    followed only by ``AS ?alias``. Distinguishes a pure aggregate item
    (``SUM(?x) AS ?s`` / ``SUM(?a * ?b) AS ?p``) from an aggregate
    embedded in a larger expression (``SUM(?x) * 2 AS ?y``), which
    routes through the SELECT-expression path with its aggregate calls
    rewritten to hidden aliases."""
    i = raw.find("(")
    if i < 0:
        return False
    depth, quote, j = 0, None, i
    while j < len(raw):
        c = raw[j]
        if quote:
            if c == "\\":
                j += 1  # skip the escaped character
            elif c == quote:
                quote = None
        elif c in "\"'":
            quote = c
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return bool(
                    re.fullmatch(
                        r"(?is)\s+as\s+\?\w+\s*", raw[j + 1:]
                    )
                )
        j += 1
    return False


@dataclass
class ParsedQuery:
    """A parsed query: its WHERE group (``patterns``, ``filters``,
    ``groups`` — what :func:`~linkedspending_spark.serve.eval_group`
    evaluates) plus the query form, projection and modifiers. Every
    nested group body (OPTIONAL, MINUS, EXISTS, UNION branch, GRAPH) is
    itself a ``ParsedQuery`` holding only a group."""

    patterns: list[tuple] = field(default_factory=list)
    filters: list[str] = field(default_factory=list)
    distinct: bool = False
    order_by: list[str] = field(default_factory=list)
    limit: int | None = None
    offset: int | None = None
    project: list[str] | None = None  # None = SELECT *
    ask: bool = False  # ASK query: solutions limited to 1; non-empty = true
    #: group operators in source order (SPARQL's group-graph-pattern
    #: order), one encoding each: ("optional", body) / ("minus", body)
    #: / ("exists", (body, positive)) / ("union", [body, ...]) /
    #: ("graph", (term, body)) / ("bind", (sql_expr, var, meta)) /
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
    having: list[str] = field(default_factory=list)
    #: (translated-sql-expr, alias) per non-aggregate SELECT expression
    select_exprs: list[tuple[str, str]] = field(default_factory=list)
    #: dataset description (SPARQL 13.2): FROM graph URIs (merged as
    #: the default graph) and FROM NAMED graph URIs (the graphs GRAPH
    #: clauses may address). Empty lists when absent — a present
    #: description with no FROM means the EMPTY default graph.
    from_graphs: list[str] = field(default_factory=list)
    from_named: list[str] = field(default_factory=list)
    #: hidden pre-projections backing EXPRESSION aggregates
    #: (``SUM(?a * ?b)``): appended to ``groups`` as reserved-name
    #: BINDs AFTER the body parses (so they evaluate over the full
    #: solution), aggregated like plain variables, dropped post-agg
    agg_expr_binds: list[tuple[str, str]] = field(default_factory=list)
    #: query uses LANG()/DATATYPE()/langMatches(): evaluation must
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

_UNSUPPORTED = {
    "service",
}


class _Parser:
    def __init__(self, text: str):
        self.lx = _Lexer(text)
        self.prefixes = dict(DEFAULT_PREFIXES)
        self.q = ParsedQuery()
        self._fresh = 0  # property-path rewrite variable counter

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
                    "HAVING aggregate rewrites)"
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

    def _child_body(self, what: str | None = None) -> ParsedQuery:
        """Parse a full nested group-graph-pattern body ``{ ... }`` with
        a child parser on the SHARED lexer (the subquery trick) — so
        OPTIONAL / MINUS / EXISTS / UNION / GRAPH bodies support
        everything the main group body does. The fresh-variable counter
        is shared so parent/child path-rewrite variables (``?__ppN``)
        never collide in a joint scope, and the child's ``needs_kinds``
        propagates up (the outer evaluation threads the companions).
        ``what`` names the operator for the empty-body refusal."""
        sub = _Parser.__new__(_Parser)
        sub.lx = self.lx
        sub.prefixes = dict(self.prefixes)
        sub.q = ParsedQuery()
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

    # -- filter translation -----------------------------------------------

    #: SPARQL built-in → Spark SQL function with identical two/one-arg
    #: semantics over string columns (the solution column type).
    _FILTER_FUNCS = {
        "regex": "regexp_like",
        "ucase": "upper",
        "lcase": "lower",
        "strlen": "length",
        "contains": "contains",
        "strstarts": "startswith",
        "strends": "endswith",
        "substr": "substr",
        "concat": "concat",
        "abs": "abs",
        # identical name + semantics in Spark SQL (IF/COALESCE: SPARQL's
        # error-as-NULL maps to SQL NULL; IN is the SQL operator).
        # try_cast backs the isNumeric rewrite and doubles as an escape
        # hatch for explicit numeric coercion.
        "in": "IN",
        "if": "if",
        "coalesce": "coalesce",
        "try_cast": "try_cast",
        # SPARQL REPLACE is XPath-regex replacement: Spark regexp_replace
        # (Java regex, $1 group refs — same engine family as Jena's ARQ).
        # A constant 4th FLAGS argument folds into a Java embedded-flag
        # prefix BEFORE this mapping applies (_string_builtins_pass);
        # only a non-constant flags operand reaches the analyzer's
        # arity rejection.
        "replace": "regexp_replace",
        # hash built-ins over the lexical form (SPARQL 17.4.4.11-12);
        # SHA256/384/512 rewrite to sha2(x, N) in _string_builtins_pass
        "md5": "md5",
        "sha1": "sha1",
        # numeric built-ins with identical SQL semantics over doubles;
        # ROUND is pre-pass only (XPath rounds .5 toward +inf, Spark
        # rounds half away from zero — floor(x + 0.5) is the exact form)
        "ceil": "ceil",
        "floor": "floor",
        # names the pre-passes emit (also available directly — they are
        # deterministic Spark SQL with no SPARQL-divergent semantics)
        "instr": "instr",
        "regexp_replace": "regexp_replace",
        "url_encode": "url_encode",
        "sha2": "sha2",
        "year": "year",
        "month": "month",
        "day": "day",
        "hour": "hour",
        "minute": "minute",
        "second": "second",
    }

    _FILTER_PIECE = re.compile(
        r"""
          (?P<lit>"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*')
          (?:\s*\^\^\s*(?:<[^<>\s]*>|[A-Za-z_][\w-]*:[\w.-]*))?
        | (?P<uri><[^<>\s]*>)
        | (?P<pname>(?:[A-Za-z_][\w-]*)?:(?:[\w-]+(?:\.[\w-]+)*)?)
        | (?P<bound>\b[Bb][Oo][Uu][Nn][Dd]\s*\(\s*(?P<bvar>\?\w+)\s*\))
        | (?P<func>\b[A-Za-z]+)(?=\s*\()
        | (?P<and>&&) | (?P<or>\|\|) | (?P<not>!(?!=))
        """,
        re.X,
    )

    # term-metadata built-ins, rewritten BEFORE the main pass into
    # expressions over the <v>__kind/__datatype/__lang companions (the
    # ?name syntax survives serve's variable→column substitution):
    # langMatches first (it consumes the inner LANG call), then bare
    # LANG / DATATYPE outside quoted literals.
    _LM_CALL = re.compile(
        r"(?i)\blangmatches\s*\(\s*"
        r"(?:lang\s*\(\s*(\?\w+)\s*\)|(\?\w+))\s*,\s*"
        r'"((?:[^"\\]|\\.)*)"\s*\)'
    )
    _LANG_CALL = re.compile(r"(?i)\blang\s*\(\s*(\?\w+)\s*\)")
    _DT_CALL = re.compile(r"(?i)\bdatatype\s*\(\s*(\?\w+)\s*\)")
    _ISKIND_CALL = re.compile(
        r"(?i)\bis(uri|iri|literal|numeric|blank)\s*\(\s*(\?\w+)\s*\)"
    )
    _QUOTE_SPLIT = re.compile(r"(\"(?:[^\"\\]|\\.)*\"|'(?:[^'\\]|\\.)*')")

    # string/numeric/date built-ins that need argument rewriting (not a
    # plain name swap) — rewritten BEFORE the main pass, outside quoted
    # literals, over simple ?var operands (composite operands stay loud
    # parse errors via the unknown-function check):
    _SHA2_CALL = re.compile(r"(?i)\bsha(256|384|512)\s*\(\s*(\?\w+)\s*\)")
    _ROUND_CALL = re.compile(r"(?i)\bround\s*\(\s*(\?\w+)\s*\)")
    _NUM1_CALL = re.compile(r"(?i)\b(ceil|floor)\s*\(\s*(\?\w+)\s*\)")
    _DATEPART_CALL = re.compile(
        r"(?i)\b(year|month|day|hours|minutes|seconds)\s*"
        r"\(\s*(\?\w+)\s*\)"
    )
    _STRBA_CALL = re.compile(
        r"(?i)\bstr(before|after)\s*\(\s*(\?\w+)\s*,\s*"
        r"(\"(?:[^\"\\]|\\.)*\"|'(?:[^'\\]|\\.)*'|\?\w+)\s*\)"
    )
    _ENC_CALL = re.compile(r"(?i)\bencode_for_uri\s*\(\s*(\?\w+)\s*\)")
    _TZ_CALL = re.compile(r"(?i)\btz\s*\(\s*(\?\w+)\s*\)")
    #: quoted-literal token (either quote style), reused by the
    #: flag-carrying REGEX/REPLACE forms below
    _LIT_TOK = r"\"(?:[^\"\\]|\\.)*\"|'(?:[^'\\]|\\.)*'"
    _REGEX_FLAGS_CALL = re.compile(
        rf"(?i)\bregex\s*\(\s*(\?\w+)\s*,\s*({_LIT_TOK})\s*,\s*"
        rf"({_LIT_TOK})\s*\)"
    )
    _REPLACE_FLAGS_CALL = re.compile(
        rf"(?i)\breplace\s*\(\s*(\?\w+)\s*,\s*({_LIT_TOK})\s*,\s*"
        rf"({_LIT_TOK})\s*,\s*({_LIT_TOK})\s*\)"
    )
    #: RDF term constructors, recognized at the TOP LEVEL of a BIND
    #: expression only (SPARQL 17.4.2.5-8) — the greedy inner group +
    #: end anchor capture the last comma-separated tail argument
    _IRI_BIND = re.compile(r"(?is)^\s*(?:iri|uri)\s*\((.*)\)\s*$")
    _STRLANG_BIND = re.compile(
        rf"(?is)^\s*strlang\s*\((.*),\s*({_LIT_TOK})\s*\)\s*$"
    )
    _STRDT_BIND = re.compile(
        r"(?is)^\s*strdt\s*\((.*),\s*"
        r"(<[^<>\s]*>|[A-Za-z_][\w-]*:[\w.-]*)\s*\)\s*$"
    )
    _SAMETERM_CALL = re.compile(
        r"(?i)\bsameterm\s*\(\s*(\?\w+)\s*,\s*"
        r"(\?\w+|\"(?:[^\"\\]|\\.)*\")\s*\)"
    )
    _XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"

    @staticmethod
    def _lang_sql(var: str) -> str:
        # SPARQL LANG: tag or "" for literals; error (NULL -> filter
        # false) for URIs. NULL kind (VALUES/BIND-born) = plain literal.
        return (
            f"(CASE WHEN {var}__kind = 'uri' THEN NULL "
            f"ELSE coalesce({var}__lang, '') END)"
        )

    def _kind_builtins_pass(self, raw: str) -> str:
        def lm(m: re.Match) -> str:
            self.q.needs_kinds = True
            lang_expr = (
                self._lang_sql(m.group(1)) if m.group(1) else m.group(2)
            )
            rng = _unescape(m.group(3)).lower().replace("'", "''")
            if rng == "*":
                # any non-empty tag; NULL (URI operand) compares NULL
                # -> filter-false, no explicit IS NOT NULL needed
                return f"({lang_expr} != '')"
            return (
                f"(lcase({lang_expr}) = '{rng}' OR "
                f"lcase({lang_expr}) LIKE '{rng}-%')"
            )

        raw = self._LM_CALL.sub(lm, raw)

        def outside(segment: str) -> str:
            def lang(m: re.Match) -> str:
                self.q.needs_kinds = True
                return self._lang_sql(m.group(1))

            def dt(m: re.Match) -> str:
                self.q.needs_kinds = True
                v = m.group(1)
                return (
                    f"(CASE WHEN {v}__kind = 'uri' THEN "
                    "NULL "
                    f"WHEN {v}__lang IS NOT NULL THEN "
                    "'http://www.w3.org/1999/02/22-rdf-syntax-ns"
                    "#langString' "
                    f"WHEN {v}__datatype IS NOT NULL THEN {v}__datatype "
                    "ELSE 'http://www.w3.org/2001/XMLSchema#string' END)"
                )

            def iskind(m: re.Match) -> str:
                which, v = m.group(1).lower(), m.group(2)
                if which == "numeric":
                    # numeric test over the lexical form; no metadata
                    # needed (works on kinds-less tables too)
                    return f"(try_cast({v} as double) IS NOT NULL)"
                self.q.needs_kinds = True
                if which in ("uri", "iri"):
                    return f"(coalesce({v}__kind, 'literal') = 'uri')"
                if which == "blank":
                    # the converter mints URIs for every node
                    # (ConvertWorker's observation/dataset URI rules), so
                    # no blank node survives to the triple table — this
                    # is constantly false over engine-built tables, but
                    # evaluates the model's kind column per spec
                    return f"(coalesce({v}__kind, 'literal') = 'bnode')"
                return f"(coalesce({v}__kind, 'literal') = 'literal')"

            segment = self._ISKIND_CALL.sub(iskind, segment)
            return self._DT_CALL.sub(dt, self._LANG_CALL.sub(lang, segment))

        parts = self._QUOTE_SPLIT.split(raw)
        return "".join(
            p if i % 2 else outside(p) for i, p in enumerate(parts)
        )

    def _string_builtins_pass(self, raw: str) -> str:
        """Argument-rewriting built-ins (SPARQL 17.4): forms that a
        name-for-name swap cannot express. All rewrites are exact
        per-spec over ``?var`` operands; composite operands fall
        through to the unknown-function rejection so nothing silently
        mis-evaluates. Numeric/date operands go through ``try_cast`` —
        a malformed lexical form yields NULL (expression error → row
        drops), never an ANSI throw."""

        def _needle_sql(tok: str) -> tuple[str, int]:
            val = _unescape(tok[1:-1])
            return "'" + val.replace("'", "''") + "'", len(val)

        def strba(m: re.Match) -> str:
            v, tok = m.group(2), m.group(3)
            if tok.startswith("?"):  # variable needle — emit strlen,
                # the name the MAIN pass maps to Spark's length()
                s, n = tok, f"strlen({tok})"
            else:
                s, n = _needle_sql(tok)
            pos = f"instr({v}, {s})"
            if m.group(1).lower() == "before":
                # STRBEFORE(x, ""): instr = 1 → substr(x, 1, 0) = "" ✓
                return f"(if({pos} > 0, substr({v}, 1, {pos} - 1), ''))"
            # STRAFTER(x, ""): instr = 1 → substr(x, 1 + 0) = x ✓
            return f"(if({pos} > 0, substr({v}, {pos} + {n}), ''))"

        def rnd(m: re.Match) -> str:
            # XPath fn:round: half rounds toward +inf (round(-2.5) = -2);
            # Spark round() is half-away-from-zero, so spell it out
            return f"(floor(try_cast({m.group(1)} as double) + 0.5))"

        def num1(m: re.Match) -> str:
            f, v = m.group(1).lower(), m.group(2)
            return f"({f}(try_cast({v} as double)))"

        def datepart(m: re.Match) -> str:
            f, v = m.group(1).lower(), m.group(2)
            f = {"hours": "hour", "minutes": "minute",
                 "seconds": "second"}.get(f, f)
            return f"({f}(try_cast({v} as timestamp)))"

        def sha2(m: re.Match) -> str:
            return f"(sha2({m.group(2)}, {m.group(1)}))"

        def enc(m: re.Match) -> str:
            # url_encode is application/x-www-form-urlencoded (Java
            # URLEncoder); ENCODE_FOR_URI differs on exactly three
            # points: space (+ vs %20), '*' (kept vs %2A), '~' (%7E vs
            # kept). Character-class patterns avoid regex-escape
            # backslashes inside SQL string literals.
            v = m.group(1)
            return (
                "(regexp_replace(regexp_replace(regexp_replace("
                f"url_encode({v}), '[+]', '%20'), '[*]', '%2A'), "
                "'%7E', '~'))"
            )

        def same(m: re.Match) -> str:
            self.q.needs_kinds = True
            a, b = m.group(1), m.group(2)
            xs = self._XSD_STRING
            if b.startswith("?"):
                # term identity: lexical form + kind + datatype + lang;
                # simple literals and xsd:string literals are the same
                # RDF 1.1 term, so NULL datatype normalizes to xsd:string
                # null-safe equality spelled IS NOT DISTINCT FROM: the
                # <=> spelling would be eaten by the main pass's <uri>
                # token rule
                return (
                    f"({a} = {b} AND coalesce({a}__kind, 'literal') = "
                    f"coalesce({b}__kind, 'literal') AND "
                    f"coalesce({a}__datatype, '{xs}') IS NOT DISTINCT "
                    f"FROM coalesce({b}__datatype, '{xs}') AND "
                    f"{a}__lang IS NOT DISTINCT FROM {b}__lang)"
                )
            s, _ = _needle_sql(b)
            return (
                f"({a} = {s} AND coalesce({a}__kind, 'literal') = "
                f"'literal' AND {a}__lang IS NULL AND "
                f"coalesce({a}__datatype, '{xs}') = '{xs}')"
            )

        def _fold_flags(pat_tok: str, flags_tok: str, where: str) -> str:
            # SPARQL REGEX/REPLACE FLAGS (XPath fn:matches flags) fold
            # into a Java-regex embedded-flag prefix inside the pattern
            # literal: i/s/m/x have the same meaning in both engines;
            # 'q' (literal mode) has no Java embedded form → loud 400.
            flags = _unescape(flags_tok[1:-1])
            bad = sorted(set(flags) - set("ismx"))
            if bad:
                raise SparqlSyntaxError(
                    f"unsupported {where} flag(s) {bad} — supported "
                    "flags are i/s/m/x (XPath 'q' literal mode has no "
                    "Java-regex embedded form)"
                )
            if not flags:
                return pat_tok
            return f"{pat_tok[0]}(?{flags}){pat_tok[1:]}"

        def regex_flags(m: re.Match) -> str:
            v, pat = m.group(1), _fold_flags(m.group(2), m.group(3),
                                             "REGEX")
            return f"regex({v}, {pat})"

        def replace_flags(m: re.Match) -> str:
            v, pat = m.group(1), _fold_flags(m.group(2), m.group(4),
                                             "REPLACE")
            return f"replace({v}, {pat}, {m.group(3)})"

        # the forms whose ARGUMENTS are quoted literals must match
        # against the full text (the quote-split below would hide their
        # needles) — same whole-text treatment as langMatches above
        raw = self._REGEX_FLAGS_CALL.sub(regex_flags, raw)
        raw = self._REPLACE_FLAGS_CALL.sub(replace_flags, raw)
        raw = self._STRBA_CALL.sub(strba, raw)
        raw = self._SAMETERM_CALL.sub(same, raw)

        def tz(m: re.Match) -> str:
            # SPARQL TZ (17.4.5.7): the timezone part of the LEXICAL
            # form — "Z", "+05:00", or "" when absent (regexp_extract
            # returns '' on no match, which is exactly the spec value).
            # Pattern deliberately backslash-free so the main pass's
            # literal re-tokenization is idempotent over it.
            v = m.group(1)
            return (
                f"(regexp_extract({v}, "
                "'(Z|[+-][0-9][0-9]:[0-9][0-9])$', 1))"
            )

        def outside(segment: str) -> str:
            segment = self._ROUND_CALL.sub(rnd, segment)
            segment = self._NUM1_CALL.sub(num1, segment)
            segment = self._DATEPART_CALL.sub(datepart, segment)
            segment = self._SHA2_CALL.sub(sha2, segment)
            segment = self._TZ_CALL.sub(tz, segment)
            return self._ENC_CALL.sub(enc, segment)

        parts = self._QUOTE_SPLIT.split(raw)
        return "".join(
            p if i % 2 else outside(p) for i, p in enumerate(parts)
        )

    def _translate_filter(self, raw: str) -> str:
        """SPARQL expression → Spark SQL predicate: term substitution
        (URIs / typed literals → string literals), &&/||/! → AND/OR/NOT,
        BOUND(?x) → ?x IS NOT NULL, and the string built-ins (REGEX,
        UCASE, STRSTARTS, ...) → their Spark SQL equivalents.
        LANG/DATATYPE/langMatches rewrite into expressions over the
        term-metadata companions (``_kind_builtins_pass``). Unknown
        function names and ``xsd:type(?x)`` cast syntax are rejected
        HERE, at translate time — the REST path turns that into a 400
        with the offending name, instead of a 500 from Spark's analyzer
        at collect()."""
        raw = self._kind_builtins_pass(raw)
        raw = self._string_builtins_pass(raw)

        def _sql_str(v: str) -> str:
            return "'" + v.replace("'", "''") + "'"

        def _followed_by_paren(m: re.Match) -> bool:
            rest = m.string[m.end():]
            return rest.lstrip()[:1] == "("

        def sub(m: re.Match) -> str:
            if m.group("lit") is not None:
                return _sql_str(_unescape(m.group("lit")[1:-1]))
            if m.group("uri") is not None or m.group("pname") is not None:
                if _followed_by_paren(m):
                    raise SparqlSyntaxError(
                        f"cast syntax {m.group().strip()}(...) is not "
                        "supported (comparisons run over lexical forms; "
                        "unquoted numeric literals already compare "
                        "numerically)"
                    )
                if m.group("uri") is not None:
                    return _sql_str(m.group("uri")[1:-1])
                return _sql_str(self._expand(m.group("pname")))
            if m.group("bound") is not None:
                return f"({m.group('bvar')} IS NOT NULL)"
            if m.group("func") is not None:
                name = m.group("func").lower()
                if name == "str":  # STR(?x): lexical form — already is
                    return ""
                if name in ("rand", "now", "uuid", "struuid", "bnode"):
                    raise SparqlSyntaxError(
                        f"built-in {name.upper()}() is nondeterministic "
                        "and unsupported by design: a solution must be "
                        "reproducible across retried Spark tasks, and a "
                        "nondeterministic expression could differ "
                        "between a task attempt and its retry"
                    )
                if name == "timezone":
                    raise SparqlSyntaxError(
                        "TIMEZONE() returns xsd:dayTimeDuration, which "
                        "the engine does not model — use TZ() (the "
                        "lexical timezone string: 'Z', '+05:00', or '')"
                    )
                if name in ("iri", "uri", "strlang", "strdt"):
                    raise SparqlSyntaxError(
                        f"term constructor {name.upper()}() is supported "
                        "only as the top-level form of a "
                        "BIND(... AS ?v) expression"
                    )
                if name not in self._FILTER_FUNCS:
                    raise SparqlSyntaxError(
                        f"unknown aggregate or built-in function {name!r} "
                        f"(supported built-ins: "
                        f"{sorted(self._FILTER_FUNCS)} + BOUND/STR; "
                        f"aggregates belong in the SELECT clause)"
                    )
                return self._FILTER_FUNCS[name]
            if m.group("and"):
                return " AND "
            if m.group("or"):
                return " OR "
            return " NOT "

        return self._FILTER_PIECE.sub(sub, raw)

    def _bind_expression(self, body: str) -> tuple[str, dict | None]:
        """BIND expression → ``(translated SQL, term metadata)``.

        The three RDF term CONSTRUCTORS (SPARQL 17.4.2.5-8) are
        recognized at the TOP level of the expression only: the value
        column is the inner expression's lexical form, and the
        constructed term's kind / datatype / language tag ride along as
        constant metadata — serve attaches them as companion columns
        under ``with_kinds``, so LANG()/DATATYPE()/isURI() over the
        bound variable and the REST layer's W3C term typing both see
        the constructed type. ``IRI()`` does not resolve relative
        references (the dialect has no BASE — operands are expected to
        be absolute, as every URI the engine mints is)."""
        m = self._IRI_BIND.match(body)
        if m:
            self.q.needs_kinds = True
            return self._translate_filter(m.group(1)), {"kind": "uri"}
        m = self._STRLANG_BIND.match(body)
        if m:
            self.q.needs_kinds = True
            return (
                self._translate_filter(m.group(1)),
                {"kind": "literal",
                 "lang": _unescape(m.group(2)[1:-1])},
            )
        m = self._STRDT_BIND.match(body)
        if m:
            self.q.needs_kinds = True
            dt = m.group(2)
            dt = dt[1:-1] if dt.startswith("<") else self._expand(dt)
            return (
                self._translate_filter(m.group(1)),
                {"kind": "literal", "datatype": dt},
            )
        return self._translate_filter(body), None

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
                    proj.append(self._select_paren_spec())
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
        for sql, name in self.q.agg_expr_binds:
            if name.startswith("__ordx") and (
                agg_query or (sel_aliases & _filter_vars(sql))
            ):
                continue
            self.q.groups.append(("bind", (sql, name, None)))
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
                        self._translate_filter(self.lx.raw_parens())
                    )
            elif word == "bind":
                self.lx.next()
                raw = self.lx.raw_parens()
                m = re.search(r"\s+[Aa][Ss]\s+\?(\w+)\s*$", raw)
                if m is None:
                    raise SparqlSyntaxError(
                        "BIND needs the form (expression AS ?var)"
                    )
                expr_sql, meta = self._bind_expression(raw[: m.start()])
                self.q.groups.append(
                    ("bind", (expr_sql, m.group(1), meta))
                )
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
                sub = _Parser.__new__(_Parser)
                sub.lx = self.lx
                sub.prefixes = dict(self.prefixes)
                sub.q = ParsedQuery()
                sub._fresh = 0
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

    _AGG_SPEC = re.compile(
        r"(?is)^\s*(count|sum|min|max|avg|sample)\s*"
        r"\(\s*(distinct\s+)?(\?\w+|\*)\s*\)\s+as\s+\?(\w+)\s*$"
    )

    #: aggregate call inside a direct-form HAVING; the operand group
    #: admits one paren-nesting level so EXPRESSION operands with
    #: built-in calls (SUM(strlen(?x))) match — deeper nesting is left
    #: unrewritten and refused by _rewrite_agg_calls
    _HAVING_AGG = re.compile(
        r"(?i)\b(count|sum|min|max|avg|sample)\s*"
        r"\(\s*(distinct\s+)?((?:[^()]|\([^()]*\))*)\)"
    )

    #: the start of any aggregate call (not a ?var or prefixed name)
    _AGG_CALL = re.compile(
        r"(?i)(?<![\w:?$])(count|sum|min|max|avg|sample)\s*\("
    )

    def _mask_literals(self, text: str) -> str:
        """``text`` with every quoted literal's content blanked, same
        length, so call patterns never match inside a string."""
        return self._QUOTE_SPLIT.sub(
            lambda m: m.group()[0] + " " * (len(m.group()) - 2) + m.group()[0],
            text,
        )

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

    def _order_expr_key(self, body: str) -> str:
        """ORDER BY expression key → hidden BIND column (same
        machinery as expression aggregates; evaluated over full
        solutions — or recomputed over the GROUPED solutions under
        aggregation — and dropped from the output). Aggregate calls
        in the key (``ORDER BY DESC(COUNT(?x))``) rewrite to hidden
        aggregate aliases first, like HAVING's direct form."""
        body = self._rewrite_agg_calls(body)
        name = "__ordx%d" % sum(
            1 for _, n in self.q.agg_expr_binds if n.startswith("__ordx")
        )
        self.q.agg_expr_binds.append((self._translate_filter(body), name))
        return name

    def _rewrite_having_aggs(self) -> str:
        """``HAVING(COUNT(?x) > 5)`` — the spec's direct form: each
        aggregate call becomes a HIDDEN aggregate alias (``?__aggN``,
        computed alongside the SELECT aggregates, dropped after the
        HAVING filter applies) so the raw expression translates like
        any other filter over alias variables."""
        return self._rewrite_agg_calls(self.lx.raw_parens())

    def _rewrite_agg_calls(self, raw: str) -> str:
        """Replace each aggregate call in ``raw`` with a hidden
        ``?__aggN`` aggregate alias (shared by the direct-form HAVING
        and ORDER BY aggregate keys)."""

        def sub(m: re.Match) -> str:
            func, dist, arg = (
                m.group(1).lower(),
                bool(m.group(2)),
                raw[m.start(3) : m.end(3)].strip(),
            )
            if arg == "*" and func != "count":
                raise SparqlSyntaxError(f"{func.upper()} needs a ?var")
            alias = f"__agg{len(self.q.aggregates)}"
            if arg == "*" or re.fullmatch(r"\?\w+", arg):
                var = None if arg == "*" else arg[1:]
            else:
                # EXPRESSION operand — same hidden-BIND machinery as
                # the SELECT-clause form
                if dist:
                    raise SparqlSyntaxError(
                        "DISTINCT combines only with a plain ?var"
                    )
                var = f"__aggx{len(self.q.agg_expr_binds)}"
                self.q.agg_expr_binds.append(
                    (self._translate_filter(arg), var)
                )
            self.q.aggregates.append((func, var, dist, alias))
            return "?" + alias

        # match on the masked text, splice into the original: offsets
        # agree, and a literal's content is neither a call nor rewritten
        parts, at = [], 0
        for m in self._HAVING_AGG.finditer(self._mask_literals(raw)):
            parts += [raw[at : m.start()], sub(m)]
            at = m.end()
        out = "".join(parts) + raw[at:]
        left = self._AGG_CALL.search(self._mask_literals(out))
        if left is not None:
            raise SparqlSyntaxError(
                f"unsupported aggregate call {left.group(1).upper()}(...) in "
                f"({raw.strip()}): an aggregate operand may nest at most "
                "one level of parentheses; bind the inner expression "
                "first (BIND or a SELECT expression)"
            )
        return out

    _GC_SPEC = re.compile(
        r"(?is)^\s*group_concat\s*\(\s*(distinct\s+)?(\?\w+)\s*"
        r'(?:;\s*separator\s*=\s*"((?:[^"\\]|\\.)*)")?\s*\)'
        r"\s+as\s+\?(\w+)\s*$"
    )

    def _select_paren_spec(self) -> str:
        """One parenthesized SELECT item — ``(FUNC([DISTINCT] ?v|*) AS
        ?alias)`` aggregate, or ``(expr AS ?alias)`` projection
        expression (translated like a FILTER body). Returns the alias."""
        raw = self.lx.raw_parens()
        if re.match(r"(?is)^\s*group_concat\s*\(", raw):
            m = self._GC_SPEC.match(raw)
            if m is None:
                raise SparqlSyntaxError(
                    f"malformed GROUP_CONCAT ({raw.strip()}) — expected "
                    'GROUP_CONCAT([DISTINCT] ?var [; SEPARATOR="..."]) '
                    "AS ?alias"
                )
            dist, var, sep, alias = (
                bool(m.group(1)),
                m.group(2)[1:],
                m.group(3),
                m.group(4),
            )
            self.q.aggregates.append(("group_concat", var, dist, alias))
            # SPARQL 1.1 §18.5.1.7: default separator is a single space
            self.q.agg_separators[alias] = (
                _unescape(sep) if sep is not None else " "
            )
            return alias
        if re.match(
            r"(?is)^\s*(count|sum|min|max|avg|sample)\s*\(", raw
        ) and _call_spans_spec(raw):
            m = self._AGG_SPEC.match(raw)
            if m is None:
                # EXPRESSION operand — SUM(?a * ?b), COUNT(strlen(?x))
                # ...: evaluate the inner expression as a hidden
                # reserved-name BIND over the solution, then aggregate
                # the hidden column like a plain variable (its NATIVE
                # column type governs the sum typing — see
                # _apply_aggregates). DISTINCT over an expression stays
                # unsupported.
                me = re.match(
                    r"(?is)^\s*(count|sum|min|max|avg|sample)\s*"
                    r"\((.+)\)\s+as\s+\?(\w+)\s*$",
                    raw,
                )
                if me is None or re.match(
                    r"(?is)^\s*distinct\b", me.group(2)
                ):
                    raise SparqlSyntaxError(
                        f"malformed aggregate ({raw.strip()}) — expected "
                        "FUNC([DISTINCT] ?var | * | expression) AS ?alias "
                        "(DISTINCT combines only with a plain ?var)"
                    )
                func, body, alias = (
                    me.group(1).lower(),
                    me.group(2),
                    me.group(3),
                )
                hidden = f"__aggx{len(self.q.agg_expr_binds)}"
                self.q.agg_expr_binds.append(
                    (self._translate_filter(body), hidden)
                )
                self.q.aggregates.append((func, hidden, False, alias))
                return alias
            func, dist, arg = m.group(1).lower(), bool(m.group(2)), m.group(3)
            if arg == "*" and func != "count":
                raise SparqlSyntaxError(f"{func.upper()} needs a ?var")
            var = None if arg == "*" else arg[1:]
            self.q.aggregates.append((func, var, dist, m.group(4)))
            return m.group(4)
        m = re.search(r"\s+[Aa][Ss]\s+\?(\w+)\s*$", raw)
        if m is None:
            raise SparqlSyntaxError(
                "SELECT (...) needs an aggregate or 'expression AS ?alias'"
            )
        expr = raw[: m.start()]
        if self._AGG_CALL.search(self._mask_literals(expr)):
            # aggregate calls INSIDE a larger projection expression —
            # (COUNT(?x)/SUM(?y) AS ?r): each call becomes a hidden
            # aggregate alias (the HAVING direct-form machinery); the
            # expression itself evaluates as a SELECT expression over
            # the GROUPED solutions (select_text applies select_exprs
            # after _aggregate, which keeps the hidden aliases exactly
            # while something still reads them)
            expr = self._rewrite_agg_calls(expr)
        self.q.select_exprs.append(
            (self._translate_filter(expr), m.group(1))
        )
        return m.group(1)

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
                # ')' and bare BUILTIN(...) — the expression evaluates
                # as a pre-aggregation hidden BIND and the alias (or a
                # reserved __grpx name, groupable but unprojectable)
                # joins the grouping keys. Follower clauses HAVING/
                # ORDER/LIMIT/OFFSET/VALUES are excluded by name.
                if text == "(":
                    raw = self.lx.raw_parens()
                elif kind == "word" and text.lower() not in (
                    "having", "order", "limit", "offset", "values"
                ):
                    st = self.lx.save()
                    self.lx.next()
                    if self.lx.peek()[1] != "(":
                        self.lx.restore(st)
                        break
                    raw = text + "(" + self.lx.raw_parens() + ")"
                else:
                    break
                m = re.search(r"\s+[Aa][Ss]\s+\?(\w+)\s*$", raw)
                if m is not None:
                    name, expr = m.group(1), raw[: m.start()]
                else:
                    name = "__grpx%d" % sum(
                        1
                        for g in self.q.group_by
                        if g.startswith("__grpx")
                    )
                    expr = raw
                if name in self.q.group_by:
                    raise SparqlSyntaxError(
                        f"GROUP BY binds ?{name} twice"
                    )
                self.q.agg_expr_binds.append(
                    (self._translate_filter(expr), name)
                )
                self.q.group_by.append(name)
            if not self.q.group_by:
                raise SparqlSyntaxError(
                    "GROUP BY needs at least one ?var or (expression)"
                )
        if self.lx.next_word() == "having":
            self.lx.next()
            self.q.having.append(
                self._translate_filter(self._rewrite_having_aggs())
            )
        if self.lx.next_word() == "order":
            self.lx.next()
            if self.lx.next_word() != "by":
                raise SparqlSyntaxError("ORDER must be followed by BY")
            self.lx.next()
            any_key = False
            while True:
                kind, text = self.lx.peek()
                if kind == "var":
                    self.lx.next()
                    self.q.order_by.append(text)
                elif kind == "word" and text.lower() in ("asc", "desc"):
                    sign = "-" if text.lower() == "desc" else ""
                    self.lx.next()
                    raw = self.lx.raw_parens().strip()
                    if re.fullmatch(r"\?\w+", raw):
                        self.q.order_by.append(sign + raw)
                    else:  # ASC/DESC over an EXPRESSION
                        self.q.order_by.append(
                            sign + "?" + self._order_expr_key(raw)
                        )
                elif (
                    kind == "word"
                    and text.lower() not in ("limit", "offset", "values")
                ) or text == "(":
                    # bare expression key — BUILTIN(...) call or a
                    # parenthesized expression. The follower clauses
                    # LIMIT/OFFSET/VALUES are excluded by name
                    # (multi-var VALUES (?a ?b) {...} starts with a
                    # paren); any other word is a key only when a "("
                    # follows.
                    st = self.lx.save()
                    if kind == "word":
                        self.lx.next()
                        if self.lx.peek()[1] != "(":
                            self.lx.restore(st)
                            break
                        raw = text + "(" + self.lx.raw_parens() + ")"
                    else:
                        raw = "(" + self.lx.raw_parens() + ")"
                    self.q.order_by.append(
                        "?" + self._order_expr_key(raw)
                    )
                else:
                    break
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
    over that variable a double. Decided by ONE narrow pre-scan job
    over the sum variables (the ivf count+max(abs) idiom) — per QUERY,
    not per group (documented approximation: SPARQL types each group's
    sum separately). AVG casts to double (SPARQL says ``xsd:decimal``
    for integer operands — documented divergence). Non-numeric lexical
    forms → NULL, ignored by the aggregate, matching SPARQL's
    error-drop; MIN/MAX/SAMPLE stay on the lexical string.

    EXPRESSION operands (``SUM(?a * ?b)``) aggregate their hidden
    BIND column's native type directly (integer expressions sum as
    long → ``xsd:integer``). Raw arithmetic over a MALFORMED lexical
    form throws under ANSI (same as BIND — Spark's error message
    itself points at ``try_cast``); route dirty data through the
    exposed ``try_cast(?v as double)`` escape hatch for SPARQL's
    error-drop semantics."""
    missing = [v for v in q.group_by if v not in df.columns]
    if missing:
        raise SparqlSyntaxError(
            f"GROUP BY variable(s) {missing} are bound by no pattern"
        )
    dtypes = dict(df.dtypes)
    sum_vars = sorted({
        var
        for func, var, _, _ in q.aggregates
        # the lexical-form long-vs-double pre-scan applies to STRING
        # columns only: a hidden expression column already carries its
        # native numeric type (try_cast(double AS long) truncates, so
        # running the pre-scan on one would mistype fractional sums)
        if func == "sum"
        and var is not None
        and dtypes.get(var) == "string"
    })
    int_sum: set[str] = set()
    if sum_vars:
        # numeric operands only: a non-numeric lexical form is DROPPED
        # (error-drop, see below), so it must not demote the sum type
        checks = df.agg(
            *(
                F.count(F.col(v).try_cast("double")).alias(f"__n_{v}")
                for v in sum_vars
            ),
            *(
                F.count(F.col(v).try_cast("long")).alias(f"__l_{v}")
                for v in sum_vars
            ),
        ).first()
        int_sum = {
            v for v in sum_vars if checks[f"__n_{v}"] == checks[f"__l_{v}"]
        }
    aggs = []
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
        elif func == "sum" and var in int_sum:
            expr = (
                F.expr(f"sum(DISTINCT try_cast(`{var}` as long))")
                if dist
                else F.sum(F.col(var).try_cast("long"))
            )
        elif func in ("sum", "avg") and dtypes.get(var) != "string":
            # expression operand with a native (non-string) type:
            # aggregate directly — Spark's own typing governs (long
            # sums stay long, double stays double)
            expr = (
                F.expr(f"{func}(DISTINCT `{var}`)")
                if dist
                else (F.sum(F.col(var)) if func == "sum" else F.avg(F.col(var)))
            )
        elif func in ("sum", "avg"):
            # try_cast, not cast: under ANSI a non-numeric lexical form
            # must DROP from the aggregate (SPARQL error-drop), not
            # throw from inside codegen
            if dist:
                expr = F.expr(
                    f"{func}(DISTINCT try_cast(`{var}` as double))"
                )
            else:
                col = F.col(var).try_cast("double")
                expr = F.sum(col) if func == "sum" else F.avg(col)
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
    if not aggs:  # bare GROUP BY: one row per group
        df = df.select(*q.group_by).dropDuplicates()
    elif q.group_by:
        df = df.groupBy(*q.group_by).agg(*aggs)
    else:
        df = df.agg(*aggs)
    for h in q.having:
        df = df.where(F.expr(_vars_to_cols(h)))
    # hidden aliases exist only for a direct-form HAVING, an ORDER BY
    # aggregate key, or an aggregate embedded in a SELECT expression —
    # keep the ones a pending ?__ordx key or SELECT expression still
    # reads (select_text applies those over THIS output; the projection
    # drops the hidden columns afterwards), drop the rest here
    later_reads: set[str] = set()
    for sql, name in q.agg_expr_binds:
        if name.startswith("__ordx"):
            later_reads |= _filter_vars(sql)
    for sql, _alias in q.select_exprs:
        later_reads |= _filter_vars(sql)
    hidden = [
        c
        for c in df.columns
        if c.startswith("__agg") and c not in later_reads
    ]
    if hidden:
        df = df.drop(*hidden)
    return df


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
    for sql, alias in q.select_exprs:
        missing = sorted(v for v in _filter_vars(sql) if v not in df.columns)
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
        df = df.withColumn(alias, F.expr(_vars_to_cols(sql)))
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
        sql = next((s for s, n in q.agg_expr_binds if n == var), None)
        if sql is None:  # pragma: no cover — parser invariant
            raise SparqlSyntaxError(
                f"internal: no expression for ORDER BY {var}"
            )
        missing = sorted(v for v in _filter_vars(sql) if v not in d.columns)
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
        return d.withColumn(var, F.expr(_vars_to_cols(sql)))

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
