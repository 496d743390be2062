"""Triple-pattern query surface over materialized triple tables.

The reference serves its converted graph through SPARQL/REST
(Sparql.java:26-53 builds pattern queries; Rest.java:86-91 exposes
them). A switching user's first post-conversion need is "give me the
triples matching (s?, p?, o?)" — ``match`` covers that 80% over the
partitioned parquet/Iceberg triple table. The reference's own catalog
queries are conjunctive multi-pattern selects (Sparql.java:44:
``?d a qb:DataSet . ?d dcterms:modified ?m . ?d dcterms:created ?c``)
— ``select_bgp`` evaluates exactly that shape: a basic graph pattern
as a join tree of pushed-down pattern scans, and ``eval_group``
evaluates a whole SPARQL group graph pattern over it: one recursive
evaluator for OPTIONAL (left joins), FILTER (earliest-bound expression
predicates), UNION (by-name branch union, NULL = unbound), MINUS,
FILTER [NOT] EXISTS, GRAPH, BIND, VALUES, property paths and
subqueries, each operator's body itself a group — covering the forms
Sparql.java's free-form queries actually use and then some. Textual
queries (the reference's ``Sparql.select(query)`` strings) parse onto
this algebra via :mod:`linkedspending_spark.sparql`, which also applies
the solution modifiers (DISTINCT, ORDER BY, LIMIT).

Scale shape: every bound term becomes a pushed-down parquet filter
(min/max + dictionary pruning on the sorted columns), and a bound
``dataset`` adds a predicate on the bucket column. On the landed table,
one directory per bucket, it prunes *partitions* — the scan touches
only ``1/n_buckets`` of the table, shown under ``PartitionFilters``.
On the canonical table, where ``bucket`` is an ordinary column the
files are clustered and sorted by, it is a ``PushedFilters`` entry
that skips row groups by their ``bucket`` statistics (both gated by
pytest).
"""

from __future__ import annotations

import math
import operator
from collections.abc import Callable, Sequence
from decimal import Decimal

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import model as M
from .sources.local import local_frame


def manifest_n_buckets(spark: SparkSession, manifest_path: str) -> int | None:
    """The bucket count the table was actually written with.

    Reads the ``__n_buckets__`` config sentinel the job runners record
    on first write (jobs.py:BUCKETS_SENTINEL) — the same source the
    jobs-side resume guard trusts. Returns ``None`` for a manifest
    with no sentinel (e.g. empty store); raises if conflicting values
    were ever recorded (a corrupt store).
    """
    from .jobs import BUCKETS_SENTINEL
    from .sources.manifest import ManifestStore

    vals = sorted(
        {
            int(r["n_rows"])
            for r in ManifestStore(spark, manifest_path)
            .read()
            .where(F.col("dataset") == BUCKETS_SENTINEL)
            .select("n_rows")
            .collect()
        }
    )
    if not vals:
        return None
    if len(vals) > 1:
        raise ValueError(
            f"manifest {manifest_path} records conflicting n_buckets={vals}"
        )
    return vals[0]


class NotTerms:
    """A pattern-term constraint ``NOT IN (values)`` — SPARQL's negated
    property set ``!(p1|p2)`` in predicate position: a pure scan filter
    (``Not(In(p, ...))`` pushes into parquet), binding no variable."""

    __slots__ = ("values",)

    def __init__(self, values):
        self.values = tuple(values)

    def __repr__(self) -> str:  # appears in pattern error messages
        return f"!({'|'.join(self.values)})"


def _term_filter(df: DataFrame, col: str, value) -> DataFrame:
    if value is None:
        return df
    if isinstance(value, NotTerms):
        return df.where(~F.col(col).isin(*value.values))
    if isinstance(value, (list, tuple, set)):
        return df.where(F.col(col).isin(*value))
    return df.where(F.col(col) == value)


def match(
    triples: DataFrame,
    s: str | Sequence[str] | None = None,
    p: str | Sequence[str] | None = None,
    o: str | Sequence[str] | None = None,
    dataset: str | None = None,
    n_buckets: int | None = None,
    manifest_path: str | None = None,
) -> DataFrame:
    """Triple-pattern match: bind any of (s, p, o, dataset); None = wildcard.

    Terms accept a single URI/literal or a list (→ ``IN``). All filters
    are native comparisons on the scan columns, so Catalyst pushes them
    into the parquet reader (``PushedFilters``). When ``dataset`` and a
    bucket count are known and the table carries the job runner's
    ``bucket`` column, the matching bucket is computed from the same
    ``pmod(xxhash64(dataset), n)`` rule (jobs.py:bucket_of) as a
    foldable expression that Catalyst constant-folds. On the landed
    table, partitioned by ``bucket``, it prunes every other partition
    (``PartitionFilters``); on the canonical table, clustered by
    ``bucket``, it is a pushed filter that skips row groups.

    The bucket count is authoritative from the WRITER, not the caller:
    pass ``manifest_path`` and it is read from the job's
    ``__n_buckets__`` sentinel (:func:`manifest_n_buckets`). A caller-
    supplied ``n_buckets`` that disagrees with the manifest raises —
    pruning with the wrong modulus selects the wrong partition and
    would silently return zero rows. A bare ``n_buckets`` with no
    manifest is trusted (documented sharp edge: it MUST match the
    writer's value).
    """
    df = triples
    if dataset is not None:
        # a list = a SET of graphs (FROM dataset clauses); an empty
        # list = the EMPTY default graph (SPARQL 13.2: FROM NAMED
        # without FROM) — matches nothing
        names = [dataset] if isinstance(dataset, str) else sorted(dataset)
        if manifest_path is not None:
            recorded = manifest_n_buckets(triples.sparkSession, manifest_path)
            if (
                recorded is not None
                and n_buckets is not None
                and n_buckets != recorded
            ):
                raise ValueError(
                    f"n_buckets={n_buckets} does not match the value the "
                    f"table was written with ({recorded}, from manifest "
                    f"{manifest_path}); pruning would return wrong results"
                )
            n_buckets = recorded if recorded is not None else n_buckets
        if n_buckets is not None and "bucket" in df.columns:
            from functools import reduce

            from .jobs import bucket_of

            df = df.where(
                reduce(
                    lambda a, b: a | b,
                    [
                        F.col("bucket") == bucket_of(F.lit(x), n_buckets)
                        for x in names
                    ],
                    F.lit(False),
                )
            )
        df = df.where(
            F.col("dataset") == names[0]
            if len(names) == 1
            else F.col("dataset").isin(names)
        )
    df = _term_filter(df, "s", s)
    df = _term_filter(df, "p", p)
    df = _term_filter(df, "o", o)
    return df


def _is_var(term) -> bool:
    return isinstance(term, str) and term.startswith("?")


#: companion-column suffixes carried per variable under ``with_kinds``
_KIND_SUFFIXES = ("__kind", "__datatype", "__lang")


def _is_companion(col: str) -> bool:
    return col.endswith(_KIND_SUFFIXES)


def _companions_of(var: str, columns) -> list[str]:
    return [c for c in (var + s for s in _KIND_SUFFIXES) if c in columns]


def bgp_stats(triples: DataFrame) -> dict:
    """One-time cardinality statistics for :func:`select_bgp` ordering.

    The classic triple-store selectivity table (RDF-3X/Jena style): one
    ``rollup('p')`` pass collecting, per predicate, the triple count and
    the approximate distinct subject/object counts, plus the same three
    over the whole table (the grand-total row, told apart by
    ``grouping('p')``; an empty table yields no row at all, hence the
    zero default). Predicates are vocabulary-sized (dozens–hundreds
    at any corpus scale), so the collected dict is O(vocabulary) driver
    traffic regardless of table size — compute once per table version
    and reuse across queries.
    """
    per_p, g = {}, {"n": 0, "ns": 0, "no": 0}
    for r in triples.rollup("p").agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct("s").alias("ns"),
        F.approx_count_distinct("o").alias("no"),
        F.grouping("p").alias("total"),
    ).collect():
        if r["total"]:
            g = r
        else:
            per_p[r["p"]] = {"count": r["n"], "n_s": r["ns"], "n_o": r["no"]}
    return {
        "total": g["n"],
        "n_s": g["ns"],
        "n_o": g["no"],
        "p_counts": per_p,
    }


def _estimate_pattern(consts: dict, stats: dict) -> float:
    """Estimated result cardinality of one pattern scan under the
    uniformity assumption: count(p) scaled by 1/distinct(s|o within p)
    for each additionally bound term; IN-lists scale by list length."""

    def _n(value) -> int:
        return len(value) if isinstance(value, (list, tuple, set)) else 1

    if "p" in consts and not isinstance(consts["p"], NotTerms):
        ps = consts["p"]
        ps = list(ps) if isinstance(ps, (list, tuple, set)) else [ps]
        infos = [
            stats["p_counts"].get(p, {"count": 0, "n_s": 1, "n_o": 1})
            for p in ps
        ]
        est = float(sum(i["count"] for i in infos))
        n_s = max(max((i["n_s"] for i in infos), default=1), 1)
        n_o = max(max((i["n_o"] for i in infos), default=1), 1)
    else:
        est = float(stats["total"])
        if isinstance(consts.get("p"), NotTerms):
            # negated property set: total minus the excluded predicates
            est -= sum(
                stats["p_counts"].get(p, {"count": 0})["count"]
                for p in consts["p"].values
            )
            est = max(est, 0.0)
        n_s = max(stats["n_s"], 1)
        n_o = max(stats["n_o"], 1)
    if "s" in consts:
        est *= _n(consts["s"]) / n_s
    if "o" in consts:
        est *= _n(consts["o"]) / n_o
    return est


def _join_order(entries: list[tuple[frozenset, float]]) -> list[int]:
    """Join order over (vars, cost) pattern entries: start at the
    cheapest pattern, then repeatedly take the cheapest pattern CONNECTED
    to the joined prefix (disconnected only when nothing connects —
    that cross product is the query's own semantics)."""
    remaining = list(range(len(entries)))
    order = [min(remaining, key=lambda i: entries[i][1])]
    remaining.remove(order[0])
    bound = set(entries[order[0]][0])
    while remaining:
        connected = [i for i in remaining if entries[i][0] & bound]
        nxt = min(connected or remaining, key=lambda i: entries[i][1])
        remaining.remove(nxt)
        order.append(nxt)
        bound |= entries[nxt][0]
    return order


def select_bgp(
    triples: DataFrame,
    patterns: Sequence[tuple],
    dataset: str | None = None,
    n_buckets: int | None = None,
    manifest_path: str | None = None,
    stats: dict | None = None,
    with_kinds: bool = False,
    in_graph: bool = False,
) -> DataFrame:
    """Basic-graph-pattern (conjunctive) select — Sparql.java:40-53 analog.

    ``patterns`` is a sequence of ``(s, p, o)`` term triples; a term
    starting with ``?`` is a variable, anything else is a constant
    bound at that position. Returns a DataFrame with one column per
    distinct variable (named without the ``?``), columns ordered by
    first appearance, duplicate solutions kept (SPARQL SELECT without
    DISTINCT).

    Scale shape (the S2RDF/SPARQLGX plan family, re-expressed on
    Catalyst): every pattern is an independent ``match`` scan, so each
    constant is a pushed-down parquet filter and a bound ``dataset``
    still prunes bucket partitions; patterns then equi-join on their
    shared variables, with Catalyst/AQE choosing broadcast vs shuffle
    per join from the actual scan sizes. Join order: with ``stats``
    (from :func:`bgp_stats` — compute once per table version, reuse
    across queries) patterns are ordered cheapest-estimated-cardinality
    first, connected-next (the classic triple-store selectivity
    ordering: at 100× scale the selective pattern leading the tree is
    the difference between a broadcast prefix and a corpus-sized
    shuffle); without stats the fallback is greedy
    most-constants-first, then connectivity-first. A pattern that
    shares no variable with the joined prefix is a deliberate
    cartesian product (valid SPARQL, ruinous at scale; keep BGPs
    connected). A pattern that repeats a variable (``?x p ?x``)
    becomes an in-scan equality filter; an all-constant pattern acts
    as an existence gate on the whole result (its empty/non-empty
    scan cross-joined at one row).

    ``with_kinds=True`` additionally carries each variable's RDF term
    typing as companion columns ``<v>__kind`` / ``<v>__datatype`` /
    ``<v>__lang``: read from the triple table's own ``o_kind``/
    ``o_datatype``/``o_lang`` metadata when the variable binds at the
    object position, constant ``uri`` when it binds at subject/
    predicate position (those are URIs by RDF construction). The W3C
    results serializer types bindings from these instead of guessing
    from the lexical form. Variable names may not end in ``__kind``/
    ``__datatype``/``__lang`` under this flag (reserved; raises).

    ``in_graph=True`` (a ``GRAPH ?var`` body) additionally binds the
    active graph, the ``dataset`` partition column, as the reserved
    ``_GRAPH_COL`` column of every pattern: the patterns then join on
    it, which keeps the whole group inside ONE graph.
    """
    if not patterns:
        raise ValueError("select_bgp needs at least one pattern")
    out_order: list[str] = []
    plans: list[tuple[frozenset, DataFrame, int]] = []
    for pat_i, (s, p, o) in enumerate(patterns):
        terms = (("s", s), ("p", p), ("o", o))
        consts = {c: t for c, t in terms if not _is_var(t)}
        df = match(
            triples,
            s=consts.get("s"),
            p=consts.get("p"),
            o=consts.get("o"),
            dataset=dataset,
            n_buckets=n_buckets,
            manifest_path=manifest_path,
        )
        first_col: dict[str, str] = {}
        for c, t in terms:
            if _is_var(t):
                v = t[1:]
                if not v:
                    raise ValueError(f"bare '?' variable in pattern {(s, p, o)}")
                if v in first_col:  # ?x p ?x → positions must agree
                    df = df.where(F.col(c) == F.col(first_col[v]))
                else:
                    first_col[v] = c
                    if v not in out_order:
                        out_order.append(v)
        if first_col or in_graph:
            cols = [F.col(c).alias(v) for v, c in first_col.items()]
            if in_graph:
                cols.append(F.col("dataset").alias(_GRAPH_COL))
                if _GRAPH_COL not in out_order:
                    out_order.append(_GRAPH_COL)
            if with_kinds:
                for v, c in first_col.items():
                    if _is_companion(v):
                        raise ValueError(
                            f"variable ?{v} ends in a reserved companion "
                            "suffix (__kind/__datatype/__lang) — rename "
                            "it or drop with_kinds"
                        )
                    if c == "o":  # typing metadata travels with the term
                        cols += [
                            F.col("o_kind").alias(f"{v}__kind"),
                            F.col("o_datatype").alias(f"{v}__datatype"),
                            F.col("o_lang").alias(f"{v}__lang"),
                        ]
                    else:  # s/p-position terms are URIs by construction
                        cols += [
                            F.lit("uri").alias(f"{v}__kind"),
                            F.lit(None).cast("string")
                            .alias(f"{v}__datatype"),
                            F.lit(None).cast("string").alias(f"{v}__lang"),
                        ]
            proj = df.select(*cols)
        else:  # all-constant pattern: 1-row/0-row existence gate
            proj = df.limit(1).select(F.lit(1).alias(f"__exists_{pat_i}"))
        cost = (
            _estimate_pattern(consts, stats)
            if stats is not None
            else -len(consts)
        )
        varset = frozenset(first_col) | (
            {_GRAPH_COL} if in_graph else frozenset()
        )
        plans.append((varset, proj, cost))

    order = _join_order([(vs, cost) for vs, _, cost in plans])
    bound, joined = plans[order[0]][0], plans[order[0]][1]
    for i in order[1:]:
        vs, df, _ = plans[i]
        shared = sorted(vs & bound)
        if with_kinds and shared:
            # the joined prefix already carries companions for shared
            # vars — drop the right side's copies (same term, and the
            # join keys are the var columns only)
            df = df.drop(
                *[c for v in shared for c in _companions_of(v, df.columns)]
            )
        joined = joined.join(df, on=shared) if shared else joined.crossJoin(df)
        bound = bound | vs
    if with_kinds:
        out_order = out_order + [
            c for v in out_order for c in _companions_of(v, joined.columns)
        ]
    return joined.select(*out_order)


# -- expressions -------------------------------------------------------------
#
# ``sparql.py`` parses every FILTER, BIND, SELECT, GROUP BY, HAVING and
# ORDER BY expression once into a small tuple AST:
#
#     ("var", name) | ("lit", value) | ("iri", uri) | ("call", name, args)
#     | ("cast", expr, type) | ("in", expr, items, negated)
#
# where a literal's value is already a Python str / int / Decimal /
# float / bool, operators are calls named by their symbol, and every
# aggregate has been hoisted to a hidden variable. ``compile_expr``
# turns a node into a Column with one recursive walk: literal values
# reach Spark as ``F.lit`` values, never as SQL text, so no escaping
# layer exists to get wrong, and every built-in composes at any depth.

#: named built-ins → (min, max) argument counts (None = unbounded); the
#: parser refuses any other name and any other count
BUILTIN_ARITY: dict[str, tuple[int, int | None]] = {
    **dict.fromkeys(
        (
            "str", "ucase", "lcase", "strlen", "abs", "ceil", "floor",
            "round", "md5", "sha1", "sha256", "sha384", "sha512",
            "encode_for_uri", "tz", "year", "month", "day", "hours",
            "minutes", "seconds", "bound", "lang", "datatype", "isuri",
            "isiri", "isliteral", "isblank", "isnumeric", "iri", "uri",
        ),
        (1, 1),
    ),
    **dict.fromkeys(
        (
            "contains", "strstarts", "strends", "strbefore", "strafter",
            "langmatches", "sameterm", "strlang", "strdt",
        ),
        (2, 2),
    ),
    "regex": (2, 3),
    "replace": (3, 4),
    "substr": (2, 3),
    "if": (3, 3),
    "concat": (0, None),
    "coalesce": (1, None),
}

#: built-ins that read a variable's term-metadata companions
KIND_BUILTINS = frozenset(
    {"lang", "datatype", "isuri", "isiri", "isliteral", "isblank", "sameterm"}
)

#: built-ins that are one Spark SQL function with the same semantics
#: over the lexical-form columns, called by name (``F.call_function``
#: builds the same unresolved function Spark's SQL parser would)
_PLAIN = {
    "ucase": "upper",
    "lcase": "lower",
    "strlen": "length",
    "contains": "contains",
    "strstarts": "startswith",
    "strends": "endswith",
    "substr": "substr",
    "concat": "concat",
    "coalesce": "coalesce",
    "md5": "md5",
    "sha1": "sha1",
}

#: arithmetic goes through Spark's try_* forms: an operand that does not
#: read as a number under Spark's own coercion, an overflow or a division
#: by zero is NULL (SPARQL's expression error) for its own row, not an
#: ANSI failure of the whole query. The coercion still types the result:
#: a lexical form beside an integer is an integer (so a fractional form
#: there is an error, never truncated), beside a decimal or double a double.
#: Spark coerces no string-op-string pair, so between two lexical-form
#: variables both read as doubles (``compile_expr``); native values (a
#: BIND, an aggregate) keep Spark's own typing
_BINARY = {
    "||": operator.or_,
    "&&": operator.and_,
    "=": operator.eq,
    "!=": operator.ne,
    "<": operator.lt,
    "<=": operator.le,
    ">": operator.gt,
    ">=": operator.ge,
    "+": F.try_add,
    "-": F.try_subtract,
    "*": F.try_multiply,
    "/": F.try_divide,
}

_DATE_PARTS = {
    "year": "year", "month": "month", "day": "day",
    "hours": "hour", "minutes": "minute", "seconds": "second",
}

_XSD_STRING = M.NS_XSD + "string"


def lexical_in(df: DataFrame) -> Callable[[str], bool]:
    """Whether ``df`` holds a variable as a lexical form (a string
    column) rather than a native value (a BIND, an aggregate); the
    schema is read only when an expression asks."""
    return lambda v: dict(df.dtypes).get(v) == "string"


def _lexical_var(node, lexical: Callable[[str], bool]) -> bool:
    return node[0] == "var" and lexical(node[1])


def _is_number(node) -> bool:
    return (
        node[0] == "lit"
        and isinstance(node[1], (int, float, Decimal))
        and not isinstance(node[1], bool)
    )


def expr_vars(node) -> frozenset[str]:
    """The solution columns an expression reads: its variables, plus
    the term-metadata companions of those a metadata built-in reads."""
    kind = node[0]
    if kind == "var":
        return frozenset((node[1],))
    if kind in ("lit", "iri"):
        return frozenset()
    if kind == "cast":
        return expr_vars(node[1])
    kids = [node[1], *node[2]] if kind == "in" else node[2]
    out = frozenset().union(*map(expr_vars, kids))
    if kind == "call" and node[1] in KIND_BUILTINS:
        out |= {v + s for v in out for s in _KIND_SUFFIXES}
    return out


def compile_expr(node, lexical: Callable[[str], bool], col=F.col) -> Column:
    """One expression node → a Column. ``lexical`` tells whether a
    variable's column holds a lexical form (:func:`lexical_in`); ``col``
    resolves a variable or companion column name (``x``, ``x__lang``),
    and the OPTIONAL left-join condition passes one that reads the
    renamed right side."""
    kind = node[0]
    if kind == "var":
        return col(node[1])
    if kind in ("lit", "iri"):
        return F.lit(node[1])
    if kind == "cast":
        return compile_expr(node[1], lexical, col).try_cast(node[2])
    if kind == "in":
        c = compile_expr(node[1], lexical, col).isin(
            *(compile_expr(x, lexical, col) for x in node[2])
        )
        return ~c if node[3] else c
    name, args = node[1], node[2]
    x = [compile_expr(a, lexical, col) for a in args]
    if name in _BINARY:
        if name in ("+", "-", "*", "/") and all(
            _lexical_var(a, lexical) for a in args
        ):
            # ?a + ?b over two lexical forms: Spark refuses string+string,
            # so both read as doubles (two native integers stay integers)
            x = [c.try_cast("double") for c in x]
        elif name in ("=", "!=", "<", "<=", ">", ">=", "/"):
            # ?v <op> 5 compares (and ?v / 5 divides) the variable as a
            # double: a lexical form that is not a number drops its row
            # (try_cast → NULL, SPARQL's expression error) instead of
            # throwing under ANSI, and a fractional one is not read as
            # an integer
            for i in (0, 1):
                if args[i][0] == "var" and _is_number(args[1 - i]):
                    x[i] = x[i].try_cast("double")
        return _BINARY[name](*x)
    if name in _PLAIN:
        return F.call_function(_PLAIN[name], *x)
    if name == "!":
        return ~x[0]
    if name == "neg":
        # -?v reads a lexical form as a double: one that is not a
        # number is unbound for its row, not CAST_INVALID_INPUT; a
        # native value keeps its type
        lex = _lexical_var(args[0], lexical)
        return -(x[0].try_cast("double") if lex else x[0])
    if name == "str":  # the column already holds the lexical form
        return x[0]
    if name == "bound":
        return x[0].isNotNull()
    if name == "if":
        # an erroring condition is an error (17.4.1.2), where SQL's
        # if() would take the else branch
        return F.when(x[0], x[1]).when(~x[0], x[2])
    if name in ("regex", "replace"):
        # FLAGS (a literal the parser checked: i/s/m/x) fold into a
        # Java-regex embedded-flag prefix of the pattern
        flags = args[-1][1] if len(args) == BUILTIN_ARITY[name][1] else ""
        pat = F.concat(F.lit(f"(?{flags})"), x[1]) if flags else x[1]
        if name == "regex":
            return F.call_function("regexp_like", x[0], pat)
        return F.call_function("regexp_replace", x[0], pat, x[2])
    if name == "round":
        # XPath fn:round: halves round toward +inf (round(-2.5) = -2);
        # Spark's round() rounds them away from zero
        return F.floor(x[0].try_cast("double") + F.lit(0.5))
    if name in ("abs", "ceil", "floor"):
        # a lexical form that is not a number is an expression error
        # (NULL), not an ANSI cast failure that fails the whole query
        return F.call_function(name, x[0].try_cast("double"))
    if name in _DATE_PARTS:
        return F.call_function(_DATE_PARTS[name], x[0].try_cast("timestamp"))
    if name in ("sha256", "sha384", "sha512"):
        return F.sha2(x[0], int(name[3:]))
    if name in ("strbefore", "strafter"):
        pos = F.call_function("instr", x[0], x[1])
        part = (
            F.call_function("substr", x[0], F.lit(1), pos - 1)
            if name == "strbefore"
            else F.call_function("substr", x[0], pos + F.length(x[1]))
        )
        # an absent needle gives "" (17.4.3.4); an empty one matches at 1
        return F.when(pos > 0, part).when(pos == 0, F.lit(""))
    if name == "encode_for_uri":
        # url_encode is form encoding (Java URLEncoder); ENCODE_FOR_URI
        # differs on space (+ vs %20), '*' (kept vs %2A), '~' (%7E vs kept)
        out = F.call_function("url_encode", x[0])
        for pat, rep in (("[+]", "%20"), ("[*]", "%2A"), ("%7E", "~")):
            out = F.regexp_replace(out, pat, rep)
        return out
    if name == "tz":
        # the lexical timezone: "Z", "+05:00", or "" when absent
        return F.regexp_extract(x[0], r"(Z|[+-]\d\d:\d\d)$", 1)
    if name == "isnumeric":
        return x[0].try_cast("double").isNotNull()
    if name == "langmatches":
        if args[1] == ("lit", "*"):
            return x[0] != ""  # any tag; LANG of a URI is NULL → false
        tag, rng = F.lower(x[0]), F.lower(x[1])
        return (tag == rng) | tag.startswith(F.concat(rng, F.lit("-")))
    # term metadata: the operand is a variable (the parser checks), read
    # through its companions; a NULL kind (VALUES/BIND-born) is a literal
    v = args[0][1]
    kind_col = col(v + "__kind")
    term_kind = F.coalesce(kind_col, F.lit("literal"))
    lang, dt = col(v + "__lang"), col(v + "__datatype")
    if name in ("isuri", "isiri"):
        return term_kind == "uri"
    if name == "isblank":
        # engine-built tables mint URIs for every node, so this is
        # constantly false over them, but it reads the model's kind
        return term_kind == "bnode"
    if name == "isliteral":
        return term_kind == "literal"
    if name == "lang":  # "" for an untagged literal, error for a URI
        return F.when(kind_col == "uri", F.lit(None)).otherwise(
            F.coalesce(lang, F.lit(""))
        )
    if name == "datatype":
        return (
            F.when(kind_col == "uri", F.lit(None))
            .when(lang.isNotNull(), F.lit(M.NS_RDF + "langString"))
            .when(dt.isNotNull(), dt)
            .otherwise(F.lit(_XSD_STRING))
        )
    if name == "sameterm":
        # term identity: lexical form + kind + datatype + lang; a simple
        # literal and an xsd:string literal are the same RDF 1.1 term
        xs = F.lit(_XSD_STRING)
        if args[1][0] == "var":
            w = args[1][1]
            return (
                (x[0] == x[1])
                & (term_kind == F.coalesce(col(w + "__kind"), F.lit("literal")))
                & (F.coalesce(dt, xs) == F.coalesce(col(w + "__datatype"), xs))
                & lang.eqNullSafe(col(w + "__lang"))
            )
        return (
            (x[0] == x[1])
            & (term_kind == "literal")
            & lang.isNull()
            & (F.coalesce(dt, xs) == xs)
        )
    raise ValueError(f"unknown expression function {name!r}")


#: the active graph inside a ``GRAPH ?var`` body, as one reserved
#: column: every scan in the body binds it from the ``dataset``
#: partition column, every join in the body keys on it, and the GRAPH
#: boundary turns it into the variable (as a sub-graph URI). The
#: ``?__pp`` prefix is refused as a user variable, so it never
#: captures a query variable.
_GRAPH_COL = "__pp_graph"


def eval_group(
    triples: DataFrame,
    group,
    dataset: str | list[str] | None = None,
    n_buckets: int | None = None,
    manifest_path: str | None = None,
    stats: dict | None = None,
    with_kinds: bool = False,
    named_datasets: list[str] | None = None,
) -> tuple[DataFrame, frozenset[str]]:
    """Evaluate a SPARQL group graph pattern (SPARQL 1.1 §18.5-18.6) to
    ``(solutions, nullable variables)`` — the variables some solution
    may leave unbound (NULL).

    ``group`` is a parsed group (:class:`~linkedspending_spark.sparql.
    ParsedQuery`): its triple ``patterns`` (one :func:`select_bgp` join
    tree), its ``filters`` and its ``groups`` — one entry per group
    operator, in source order:

    * ``("optional", body)`` — LeftJoin on the shared variables. The
      body's FILTERs over its own variables evaluate inside it; those
      that read the outer solution join the LEFT JOIN's ON condition
      (SPARQL ``LeftJoin(Ω1, Ω2, expr)``: an optional match failing
      them is dropped, the solution is kept NULL-extended).
    * ``("minus", body)`` — LEFT ANTI join on the shared variables; no
      shared variable removes nothing (the disjoint-domain rule,
      §8.3.3).
    * ``("exists", (body, positive))`` — FILTER [NOT] EXISTS: LEFT
      SEMI / LEFT ANTI on the shared variables, applied after the
      positional operators (a FILTER scopes to its whole group); no
      shared variable tests whether the body is non-empty at all.
    * ``("union", [body, ...])`` — branches unioned by name (a variable
      a branch does not bind comes back NULL = unbound), then joined.
    * ``("graph", (term, body))`` — a constant graph evaluates the body
      with ``dataset`` bound (every scan partition-prunes); a variable
      evaluates it with the active graph carried as one reserved
      column (see ``_GRAPH_COL``). Named graphs are the ``dataset``
      partitions, addressed as ``<PREFIX_GRAPH><name>``
      (Virtuoso.java:30); an absent graph is an empty graph.
    * ``("bind", (expr, var, meta))`` — an expression column in source
      order (:func:`compile_expr`); ``meta`` carries an RDF term
      constructor's constant kind/datatype/lang.
    * ``("values", (var_names, rows))`` — inline data as a
      LocalRelation (no Spark job builds it), UNDEF = NULL.
    * ``("path", (s, p, o, quant))`` — a quantified property path
      (:func:`path_closure`); both ends constant = an existence gate.
    * ``("subquery", query)`` — a nested SELECT, evaluated through
      ``sparql.select_text``'s pipeline (projection, aggregates and
      modifiers; no ``limit_cap``).

    Every body is itself a group and evaluates through this same
    function; a body of triple patterns and filters is one
    :func:`select_bgp` join tree, exactly as at top level.

    FILTERs apply at the EARLIEST point all their variables are bound:
    over required variables right after the BGP (Catalyst then pushes
    them through the joins into the scans), over optional ones after
    that join, where NULL makes the comparison false — SQL's NULL rule
    coincides with SPARQL's "type error → false".

    A join on a variable that may be unbound on either side is REFUSED:
    SPARQL's compatibility join treats unbound as joinable-with-anything
    where the SQL equi-join drops the row, so that case raises instead
    of silently diverging. Each operator joins on its shared VARIABLE
    columns only, never on companions.

    ``with_kinds=True`` threads each variable's RDF term typing through
    as ``<v>__kind``/``<v>__datatype``/``<v>__lang`` companion columns
    (see :func:`select_bgp`). Variables bound only by VALUES carry no
    companions (consumers fall back per binding); BIND carries constant
    or NULL ones.

    ``dataset`` takes a single partition name or a SET (the FROM
    default-graph merge; ``[]`` = the empty default graph).
    ``named_datasets`` lists the graphs GRAPH clauses may address
    (SPARQL 13.2 FROM NAMED — ``None`` = no dataset description, GRAPH
    ranges over every partition).

    Scale shape: each group is an independently-ordered BGP join tree
    (pass ``stats`` for selectivity ordering), so a selective main
    group broadcasts into every OPTIONAL instead of re-scanning the
    corpus; UNION branches are independent pushed-down scans unioned
    at plan level (no shuffle, no materialization).
    """
    if not group.patterns and not group.groups:
        raise ValueError(
            "a group needs patterns, a union, values, a bind or a path"
        )
    scope = dict(
        dataset=dataset,
        n_buckets=n_buckets,
        manifest_path=manifest_path,
        stats=stats,
        with_kinds=with_kinds,
        named=named_datasets,
        graph=False,
    )
    df, nullable, _ = _eval_group(triples, group, scope)
    return df, frozenset(nullable)


def _refuse_nullable(shared, nullable, body_nullable, what: str) -> None:
    bad = [c for c in shared if c in body_nullable]
    if bad:
        raise ValueError(
            f"join on possibly-unbound {what} variable(s) {bad} — "
            "SPARQL's compatibility join on unbound (UNDEF) variables "
            f"is not supported; bind them unconditionally in the {what}"
        )
    bad = [c for c in shared if c in nullable]
    if bad:
        raise ValueError(
            f"join on possibly-unbound variable(s) {bad} (solution side "
            f"of {what}) — SPARQL's compatibility join on unbound "
            "variables is not supported; bind them unconditionally first"
        )


def _eval_group(
    triples: DataFrame, group, scope: dict, leftjoin: bool = False
) -> tuple[DataFrame, set[str], list[str]]:
    """One group → ``(solutions, nullable vars, unplaced filters)``.
    Under ``leftjoin`` (an OPTIONAL body) the filters the body's own
    solutions do not bind are returned for the LeftJoin condition;
    otherwise they raise."""
    kinds = scope["with_kinds"]
    scan_kw = dict(
        dataset=scope["dataset"],
        n_buckets=scope["n_buckets"],
        manifest_path=scope["manifest_path"],
    )
    df = None  # None = the single empty solution, Join's identity
    order: list[str] = []  # solution columns, first appearance first
    nullable: set[str] = set()
    remaining = list(group.filters)
    if group.patterns:
        df = select_bgp(
            triples,
            group.patterns,
            stats=scope["stats"],
            with_kinds=kinds,
            in_graph=scope["graph"],
            **scan_kw,
        )
        order = list(df.columns)

    def base() -> DataFrame:
        if df is not None:
            return df
        # Join's identity, one row and no column, as a LocalRelation
        return local_frame(triples.sparkSession, [(1,)], "__u int").drop("__u")

    def keys(right: DataFrame, what: str, body_nullable):
        """The join keys — shared VARIABLE columns, never companions —
        after refusing a possibly-unbound one; and ``right`` without
        its copies of the keys' companions (the solution has them)."""
        cols = right.columns
        shared = [
            c for c in order
            if c in cols and not (kinds and _is_companion(c))
        ]
        _refuse_nullable(shared, nullable, body_nullable, what)
        if kinds and shared:
            right = right.drop(
                *[c for v in shared for c in _companions_of(v, cols)]
            )
        return shared, right

    def join(right: DataFrame, body_nullable, what: str) -> None:
        nonlocal df
        shared, right = keys(right, what, body_nullable)
        new = [c for c in right.columns if c not in order]
        if df is None:
            df = right
        else:
            df = df.join(right, on=shared) if shared else df.crossJoin(right)
        nullable.update(c for c in new if c in body_nullable)
        order.extend(new)

    def apply_ready() -> None:
        # a filter naming no variable (FILTER(true), FILTER(1 = 1))
        # holds or fails for every solution alike: it applies as soon
        # as there are solutions
        nonlocal df
        for f in list(remaining):
            if df is not None and expr_vars(f) <= set(order):
                df = df.where(compile_expr(f, lexical_in(df)))
                remaining.remove(f)

    apply_ready()
    # FILTER (NOT) EXISTS is group-level (SPARQL scopes every FILTER to
    # the whole group it appears in): those entries evaluate AFTER the
    # positional operators regardless of source position
    entries = [g for g in group.groups if g[0] != "exists"]
    entries += [g for g in group.groups if g[0] == "exists"]
    for kind, payload in entries:
        if kind == "optional":
            body, b_null, conds = _eval_group(triples, payload, scope, True)
            df = base()
            shared, body = keys(body, "OPTIONAL body", b_null)
            new = [c for c in body.columns if c not in order]
            if conds:
                # SPARQL LeftJoin(Ω1, Ω2, expr): the filters that read
                # the outer solution are part of the join CONDITION. The
                # optional side is renamed so the condition can name
                # both sides unambiguously; NULL/type-error → false is
                # SQL's join-condition rule too, matching SPARQL.
                ren = {c: f"__opt__{c}" for c in body.columns}
                opt_r = body.select(
                    *[F.col(c).alias(r) for c, r in ren.items()]
                )
                cond = F.lit(True)
                for c in shared:
                    cond = cond & (F.col(c) == F.col(ren[c]))
                for f in conds:
                    unknown = sorted(
                        v for v in expr_vars(f)
                        if v not in order and v not in ren
                    )
                    if unknown:
                        raise ValueError(
                            "FILTER inside OPTIONAL references "
                            f"variable(s) {unknown} bound by neither the "
                            "solution nor the optional group"
                        )
                    # vars the body binds read from the renamed right
                    # side; outer-only vars read from the solution
                    cond = cond & compile_expr(
                        f,
                        lambda v: lexical_in(body if v in ren else df)(v),
                        lambda c: F.col(ren.get(c, c)),
                    )
                df = df.join(opt_r, cond, "left").select(
                    *order, *[F.col(ren[c]).alias(c) for c in new]
                )
            else:
                # no shared variable: every solution extends with every
                # optional row, NULL-extended when the body is empty
                df = (
                    df.join(body, on=shared, how="left")
                    if shared
                    else df.join(body, F.lit(True), "left")
                )
            nullable.update(new)  # unmatched solutions leave them NULL
            order.extend(new)
        elif kind in ("minus", "exists"):
            body, positive = (payload, False) if kind == "minus" else payload
            body, b_null, _ = _eval_group(triples, body, scope)
            df = base()
            what = "MINUS body" if kind == "minus" else "FILTER EXISTS body"
            shared, body = keys(body, what, b_null)
            how = "left_semi" if positive else "left_anti"
            if any(c != _GRAPH_COL for c in shared) or (
                kind == "exists" and shared
            ):
                # the active graph is a key, never a shared VARIABLE: a
                # MINUS body sharing only it removes nothing (§8.3.3),
                # an EXISTS body is tested inside the active graph
                df = df.join(body.select(*shared), on=shared, how=how)
            elif kind == "exists":
                df = df.join(body.limit(1), F.lit(True), how)
        elif kind == "union":
            parts = [_eval_group(triples, b, scope)[:2] for b in payload]
            cols: list[str] = []
            for b, _ in parts:
                cols += [c for c in b.columns if c not in cols]
            u, u_null = None, set()
            for b, b_null in parts:
                b_cols = b.columns
                u_null |= {c for c in cols if c in b_null or c not in b_cols}
                u = b if u is None else u.unionByName(
                    b, allowMissingColumns=True
                )
            join(u.select(*cols), u_null, "UNION")
        elif kind == "graph":
            join(*_eval_graph(triples, *payload, scope), "GRAPH body")
        elif kind == "bind":
            # BIND(expr AS ?v): evaluated in source order over the
            # solution so far — a narrow projection, no shuffle
            expr, name, meta = payload
            if name in order:
                raise ValueError(
                    f"BIND would rebind already-bound variable ?{name} "
                    "(SPARQL forbids it)"
                )
            missing = sorted(v for v in expr_vars(expr) if v not in order)
            if missing:
                raise ValueError(
                    f"BIND expression references unbound variable(s) "
                    f"{missing}"
                )
            df = base()
            df = df.withColumn(name, compile_expr(expr, lexical_in(df)))
            nullable.add(name)  # the expression may evaluate to NULL
            order.append(name)
            if kinds:
                # constructor meta → constant companions; plain BIND →
                # NULL companions (the "NULL kind = plain literal"
                # convention), NULL too where the value itself is NULL
                m = meta or {}
                for suf in _KIND_SUFFIXES:
                    df = df.withColumn(
                        name + suf,
                        F.when(
                            F.col(name).isNotNull(), F.lit(m.get(suf[2:]))
                        ).cast("string"),
                    )
                    order.append(name + suf)
        elif kind == "values":
            names, rows = payload
            undef = {
                n for i, n in enumerate(names)
                if any(r[i] is None for r in rows)
            }
            v = _values_df(triples.sparkSession, names, rows)
            join(v, undef, "VALUES")
        elif kind == "path":
            s_t, p_uri, o_t, quant = payload
            pc = path_closure(
                triples,
                s_t,
                p_uri,
                o_t,
                quant,
                with_kinds=kinds,
                stats=scope["stats"],
                **scan_kw,
            )
            if pc.columns == ["__pp_exists"]:
                # both ends constant: an existence gate — LEFT SEMI
                # against its ≤1-row result, never duplicating solutions
                df = base().join(pc.limit(1), F.lit(True), "left_semi")
            else:
                join(pc, (), "property path")
        elif kind == "subquery":
            from .sparql import _solve

            join(
                *_solve(
                    triples,
                    payload,
                    named_datasets=scope["named"],
                    stats=scope["stats"],
                    **scan_kw,
                ),
                "subquery",
            )
        else:
            raise ValueError(f"unknown group kind {kind!r}")
        apply_ready()
    if remaining and not leftjoin:
        unbound = frozenset().union(*map(expr_vars, remaining)) - set(order)
        raise ValueError(
            "filter(s) reference variables bound by no group: "
            f"{sorted(unbound)}"
        )
    df = base()
    if scope["graph"] and _GRAPH_COL not in order:
        # a body that reads no graph holds in every graph in scope
        df = df.crossJoin(
            match(triples, **scan_kw)
            .select(F.col("dataset").alias(_GRAPH_COL))
            .distinct()
        )
        order.append(_GRAPH_COL)
    return df.select(*order), nullable, remaining


def _values_df(spark: SparkSession, names: Sequence[str], rows) -> DataFrame:
    """Inline VALUES data as a string-typed LocalRelation
    (sources/local.py). UNDEF → NULL (SPARQL unbound)."""
    schema = T.StructType([T.StructField(n, T.StringType()) for n in names])
    return local_frame(spark, rows, schema)


def _eval_graph(
    triples: DataFrame, g_term: str, body, scope: dict
) -> tuple[DataFrame, set[str]]:
    """``GRAPH term { body }`` → ``(solutions, nullable vars)``.

    * Constant graph URI → the body evaluates with ``dataset`` bound:
      every scan in it partition-prunes (the point of per-dataset
      graphs at 10¹² triples). A URI outside the graph-base namespace,
      one disagreeing with an outer ``dataset=`` scope, or one outside
      FROM NAMED names no graph → zero solutions.
    * Variable → the body evaluates with the active graph as the
      reserved ``_GRAPH_COL`` column, which becomes the variable here.
      FROM NAMED sets the graphs it ranges over; a FROM default-graph
      scope does not constrain it (the clause switches the active
      graph); a single-dataset serving scope still does.
    """
    if "dataset" not in triples.columns:
        raise ValueError(
            "GRAPH needs a triple table carrying the 'dataset' "
            "partition column"
        )
    if not _is_var(g_term):
        name = (
            g_term[len(M.PREFIX_GRAPH):]
            if g_term.startswith(M.PREFIX_GRAPH)
            else g_term  # no dataset is named this → an empty graph
        )
        df, nullable, _ = _eval_group(
            triples, body, dict(scope, dataset=name, graph=False)
        )
        outer, named = scope["dataset"], scope["named"]
        if (isinstance(outer, str) and outer != name) or (
            named is not None and name not in named
        ):
            df = df.where(F.lit(False))
        return df, nullable
    sub = dict(scope, graph=True)
    if scope["named"] is not None:
        sub["dataset"] = scope["named"]
    elif isinstance(scope["dataset"], (list, tuple)):
        sub["dataset"] = None
    df, nullable, _ = _eval_group(triples, body, sub)
    gv = g_term[1:]
    uri = F.concat(F.lit(M.PREFIX_GRAPH), F.col(_GRAPH_COL))
    if gv in df.columns:  # GRAPH ?g { ?g ... }: the two must agree
        _refuse_nullable([gv], (), nullable, "GRAPH body")
        return df.where(F.col(gv) == uri).drop(_GRAPH_COL), nullable
    cols = [uri.alias(gv) if c == _GRAPH_COL else F.col(c) for c in df.columns]
    if scope["with_kinds"]:
        cols += [
            F.lit("uri").alias(f"{gv}__kind"),
            F.lit(None).cast("string").alias(f"{gv}__datatype"),
            F.lit(None).cast("string").alias(f"{gv}__lang"),
        ]
    return df.select(*cols), nullable


# -- property paths -----------------------------------------------------------

#: iteration cap for quantified-path fixpoints: closure converges in at
#: most graph-diameter rounds; real KG diameters are tiny (≲20), so a
#: non-converged loop at 32 means a pathological input, not a bigger cap
PATH_MAX_HOPS = 32


def _node_kind_map(scoped: DataFrame) -> DataFrame:
    """``term → (kind, datatype, lang)`` over the graph's nodes, for
    typing path-bound variables under ``with_kinds``: objects keep their
    stored metadata, subjects are URIs by RDF construction. A lexical
    collision (the same string appearing as both a URI and a literal)
    resolves to the max struct — 'uri' > 'literal' sorts the URI reading
    first, the useful one for a path endpoint."""
    objs = scoped.select(
        F.col("o").alias("__node"),
        F.col("o_kind").alias("__kind"),
        F.col("o_datatype").alias("__datatype"),
        F.col("o_lang").alias("__lang"),
    )
    subs = scoped.select(
        F.col("s").alias("__node"),
        F.lit("uri").alias("__kind"),
        F.lit(None).cast("string").alias("__datatype"),
        F.lit(None).cast("string").alias("__lang"),
    )
    return (
        objs.unionAll(subs)
        .groupBy("__node")
        .agg(F.max(F.struct("__kind", "__datatype", "__lang")).alias("__m"))
        .select(
            "__node",
            F.col("__m.__kind").alias("__kind"),
            F.col("__m.__datatype").alias("__datatype"),
            F.col("__m.__lang").alias("__lang"),
        )
    )


def _attach_node_kinds(
    df: DataFrame, var: str, node_kinds: DataFrame
) -> DataFrame:
    out = df.join(
        node_kinds, df[var] == node_kinds["__node"], "left"
    ).drop("__node")
    for suf in _KIND_SUFFIXES:
        out = out.withColumnRenamed(f"__{suf[2:]}", f"{var}{suf}")
    return out


def _render_path(spec) -> str:
    """SPARQL-ish rendering of a path element for error messages."""
    if isinstance(spec, str):
        return f"<{spec}>"
    kind = spec[0]
    if kind == "uri":
        return f"<{spec[1]}>"
    if kind == "inv":
        return "^" + _render_path(spec[1])
    if kind == "seq":
        return "(" + "/".join(_render_path(x) for x in spec[1]) + ")"
    if kind == "alt":
        return "(" + "|".join(_render_path(x) for x in spec[1]) + ")"
    return repr(spec)


def _edge_relation(
    triples: DataFrame,
    spec,
    dataset: str | None,
    n_buckets: int | None,
    manifest_path: str | None,
) -> DataFrame:
    """The ``(__a, __b)`` edge relation of a path ELEMENT: a predicate
    URI (one pushed-down scan — the common case) or a composite
    edge-spec tree ``("uri", u)`` / ``("inv", spec)`` / ``("seq",
    [spec...])`` / ``("alt", [spec...])`` from the text parser's
    quantified-composite rewrite. Composites compile into equi-joins /
    plan-level unions of pushed-down scans — every atom's predicate
    still reaches the parquet reader as a filter, so a composite step
    costs |atoms| narrow scans, never a corpus pass."""
    kw = dict(
        dataset=dataset, n_buckets=n_buckets, manifest_path=manifest_path
    )
    if isinstance(spec, str):
        spec = ("uri", spec)
    kind = spec[0]
    if kind == "uri":
        return match(triples, p=spec[1], **kw).select(
            F.col("s").alias("__a"), F.col("o").alias("__b")
        )
    if kind == "inv":
        return _edge_relation(triples, spec[1], **kw).select(
            F.col("__b").alias("__a"), F.col("__a").alias("__b")
        )
    if kind == "seq":
        out = None
        for part in spec[1]:
            e = _edge_relation(triples, part, **kw)
            if out is None:
                out = e
            else:
                out = (
                    out.select("__a", F.col("__b").alias("__m"))
                    .join(
                        e.select(F.col("__a").alias("__m"), "__b"),
                        on="__m",
                    )
                    .select("__a", "__b")
                )
        return out
    if kind == "alt":
        parts = [_edge_relation(triples, x, **kw) for x in spec[1]]
        out = parts[0]
        for e in parts[1:]:
            out = out.unionAll(e)
        return out
    raise ValueError(f"unknown path element {kind!r}")


def _edge_bound(spec, p_counts: dict) -> int:
    """An upper bound on a path element's edge count, from
    :func:`bgp_stats`' per-predicate triple counts — no Spark job."""
    if isinstance(spec, str):
        spec = ("uri", spec)
    kind, arg = spec
    if kind == "uri":
        return p_counts.get(arg, {"count": 0})["count"]
    if kind == "inv":
        return _edge_bound(arg, p_counts)
    bounds = [_edge_bound(x, p_counts) for x in arg]
    return math.prod(bounds) if kind == "seq" else sum(bounds)


def path_closure(
    triples: DataFrame,
    s,
    p,
    o,
    quant: str,
    dataset: str | None = None,
    n_buckets: int | None = None,
    manifest_path: str | None = None,
    with_kinds: bool = False,
    max_hops: int = PATH_MAX_HOPS,
    stats: dict | None = None,
) -> DataFrame:
    """Quantified property path ``s p? / p+ / p* o`` — the SPARQL 1.1
    ArbitraryLengthPath / ZeroOrOnePath algebra over the triple table.

    ``s`` / ``o`` are pattern terms (``?var`` or a constant); ``p`` is
    the single (already direction-normalized) predicate URI — the text
    parser rewrites ``^p+`` by swapping the ends, since ``(^p)+ ≡
    ^(p+)``. Returns solutions shaped like :func:`select_bgp` output:
    one column per distinct variable; both-ends-constant paths return a
    1-row/0-row existence gate named ``__pp_exists`` (the parser's
    reserved prefix, so the text layer drops it from visible output).

    Semantics (SPARQL 1.1 §18.4, de-duplicating path evaluation):

    * ``+`` — pairs connected by 1..n ``p``-edges; cycles terminate
      because evaluation is over the node-pair SET, not over walks.
    * ``*`` — ``+`` plus the zero-length path. Zero-length matches every
      graph NODE paired with itself (both ends unbound), or binds the
      free end to the constant (one end bound) — per the spec a
      zero-length path from a constant matches even when that term does
      not occur in the graph. Graph nodes = distinct subjects ∪ objects.
    * ``?`` — direct edges plus the same zero-length set; no iteration.

    Scale shape: the edge scan is ``match(p=...)`` — the predicate is a
    pushed-down parquet filter, and a bound ``dataset`` still prunes
    the scan. For ``+`` and ``*`` the step's edge relation is collected
    once (:func:`~linkedspending_spark.operators.canon.bounded_rows`,
    at most ``canon.LOCAL_THRESHOLD`` rows): under that bound the
    closure runs on the driver and comes back as a LocalRelation — ONE
    Spark job, where a distributed round costs a job of its own. With
    ``stats`` (:func:`bgp_stats`) an element whose predicates' triple
    counts already exceed the bound skips that collect and goes
    straight to the distributed rounds. A
    constant endpoint evaluates as frontier BFS from the constant,
    var-var as the full pair closure one hop per round (the spec's
    quadratic worst case; keep one end bound over large graphs), both
    with the same rounds and the same ``max_hops`` cap in either
    regime. Above the bound — or when a var-var pair set outgrows it —
    the rounds run distributed: each round one equi-join + anti-join
    on the frontier, lazily checkpointed (lineage truncation, same
    discipline as the sameAs CC loop), its convergence check the
    round's single action.
    """
    from .operators import canon

    if quant not in ("+", "*", "?"):
        raise ValueError(f"unknown path quantifier {quant!r}")
    spark = triples.sparkSession
    scoped = match(
        triples,
        dataset=dataset,
        n_buckets=n_buckets,
        manifest_path=manifest_path,
    )
    edges = _edge_relation(triples, p, dataset, n_buckets, manifest_path)
    if not isinstance(p, str):
        # composite step relation: dedup pairs before iterating (path
        # evaluation is over the node-pair SET; a seq join can emit the
        # same pair through different intermediates)
        edges = edges.distinct()
    p_str = p if isinstance(p, str) else _render_path(p)
    s_var = s[1:] if _is_var(s) else None
    o_var = o[1:] if _is_var(o) else None
    if s_var is None and o_var is not None:
        # constant subject: forward BFS from s binds the object var
        const, var = s, o_var
    elif s_var is not None and o_var is None:
        # constant object: BFS from o over REVERSED edges binds the
        # subject var (x reaches o forward ⇔ o reaches x reversed)
        edges = edges.select(
            F.col("__b").alias("__a"), F.col("__a").alias("__b")
        )
        const, var = o, s_var
    elif s_var is None and o_var is None:
        const, var = s, None
    else:
        const, var = None, None

    def not_converged() -> ValueError:
        return ValueError(
            f"property path {p_str}{quant} did not converge within "
            f"{max_hops} hops — raise max_hops for this graph"
        )

    def gate(found: bool) -> DataFrame:
        """The both-ends-constant existence gate: 1 row = path exists."""
        return local_frame(spark, [(1,)] if found else [], "__pp_exists int")

    def kinds_of(nodes) -> DataFrame:
        """``_node_kind_map`` over the rows touching ``nodes`` (shipped
        once as a LocalRelation) — the same kinds for those nodes as
        over the whole scoped table; a row touching them at both ends
        comes twice, which the map's max absorbs."""
        keep = local_frame(spark, [(n,) for n in nodes], "s string")
        return _node_kind_map(
            scoped.join(keep, "s", "left_semi").unionAll(
                scoped.join(keep.toDF("o"), "o", "left_semi")
            )
        )

    if const is not None and var is None and quant in ("*", "?") and s == o:
        return gate(True)
    rows = None
    if quant != "?" and (
        stats is None
        or _edge_bound(p, stats["p_counts"]) <= canon.LOCAL_THRESHOLD
    ):
        rows = canon.bounded_rows(edges)
    adj: dict[str, set[str]] = {}
    for a, b in rows or ():
        if a is not None:  # a NULL key joins nothing
            adj.setdefault(a, set()).add(b)

    def _local_bfs(seed: str) -> set[str]:
        """Nodes reachable from *seed* in >= 1 hops, on the driver —
        :func:`_bfs`'s rounds over the collected edges."""
        frontier = set(adj.get(seed, ()))
        reach = set(frontier)
        for _ in range(max_hops):
            if not frontier:
                return reach
            frontier = {b for a in frontier for b in adj.get(a, ())} - reach
            reach |= frontier
        if frontier:
            raise not_converged()
        return reach

    def _local_pairs() -> set[tuple[str, str]] | None:
        """The var-var pair closure on the driver — the distributed
        rounds' structure; ``None`` as soon as the pair set outgrows
        the bound (checked after each frontier pair's expansion, so the
        driver never holds much more than the bound)."""
        pairs = set(map(tuple, rows))
        frontier = pairs
        for _ in range(max_hops):
            if not frontier:
                return pairs
            new: set[tuple[str, str]] = set()
            for a, b in frontier:
                new.update(
                    (a, c) for c in adj.get(b, ()) if (a, c) not in pairs
                )
                if len(pairs) + len(new) > canon.LOCAL_THRESHOLD:
                    return None
            frontier = new
            pairs |= new
        if frontier:
            raise not_converged()
        return pairs

    def _bfs(seed: str) -> DataFrame:
        """Nodes reachable from *seed* in >= 1 hops (column ``__n``)."""
        frontier = (
            edges.where(F.col("__a") == seed)
            .select(F.col("__b").alias("__n"))
            .distinct()
        )
        if quant == "?":
            # no iteration → no checkpoint: the single-hop plan keeps
            # its scan (predicate + seed as pushed parquet filters)
            return frontier
        frontier = canon.lineage_checkpoint(frontier)
        reach = frontier
        for _ in range(max_hops):
            if frontier.isEmpty():
                return reach
            nxt = (
                frontier.join(edges, frontier["__n"] == edges["__a"])
                .select(F.col("__b").alias("__n"))
                .distinct()
            )
            frontier = canon.lineage_checkpoint(
                nxt.join(reach, "__n", "left_anti")
            )
            reach = reach.unionAll(frontier)
        if not frontier.isEmpty():
            raise not_converged()
        return reach

    if const is not None and var is None:
        # both ends constant: forward BFS from s, look for o (edges are
        # forward here: both ends constant never went through the
        # reversing branch)
        if rows is not None:
            return gate(o in _local_bfs(s))
        return (
            _bfs(s)
            .where(F.col("__n") == o)
            .limit(1)
            .select(F.lit(1).alias("__pp_exists"))
        )
    if const is not None:
        if rows is not None:
            nodes = _local_bfs(const) | ({const} if quant == "*" else set())
            out = _values_df(spark, [var], [(n,) for n in nodes])
            if with_kinds:
                out = _attach_node_kinds(out, var, kinds_of(nodes))
            return out
        out = _bfs(const).select(F.col("__n").alias(var))
        if quant in ("*", "?"):
            zero = _values_df(spark, [var], [(const,)])
            out = out.unionAll(zero).distinct()
        if with_kinds:
            out = _attach_node_kinds(out, var, _node_kind_map(scoped))
        return out

    # var-var: full pair closure (documented worst case)
    local = _local_pairs() if rows is not None else None
    if local is not None:
        pairs = local_frame(spark, local, "__a string, __b string")
    else:
        pairs = edges.distinct()
    if local is None and quant != "?":
        pairs = canon.lineage_checkpoint(pairs)
        frontier = pairs
        for _ in range(max_hops):
            if frontier.isEmpty():
                break
            step = edges.select(
                F.col("__a").alias("__b2"), F.col("__b").alias("__c")
            )
            nxt = (
                frontier.join(step, frontier["__b"] == step["__b2"])
                .select("__a", F.col("__c").alias("__b"))
                .distinct()
            )
            frontier = canon.lineage_checkpoint(
                nxt.join(pairs, ["__a", "__b"], "left_anti")
            )
            pairs = pairs.unionAll(frontier)
        else:
            if not frontier.isEmpty():
                raise not_converged()
    if with_kinds:
        # a driver-closed `+` reaches only its pairs' nodes; `*` pairs
        # every graph node with itself
        node_kinds = (
            kinds_of({n for pair in local for n in pair})
            if local is not None and quant == "+"
            else _node_kind_map(scoped)
        )
    if quant in ("*", "?"):
        nodes = (
            scoped.select(F.col("s").alias("__a"))
            .unionAll(scoped.select(F.col("o").alias("__a")))
            .distinct()
        )
        pairs = pairs.unionAll(
            nodes.select("__a", F.col("__a").alias("__b"))
        ).distinct()
    if s_var == o_var:
        out = (
            pairs.where(F.col("__a") == F.col("__b"))
            .select(F.col("__a").alias(s_var))
        )
        if with_kinds:
            out = _attach_node_kinds(out, s_var, node_kinds)
        return out
    out = pairs.select(
        F.col("__a").alias(s_var), F.col("__b").alias(o_var)
    )
    if with_kinds:
        out = _attach_node_kinds(out, s_var, node_kinds)
        out = _attach_node_kinds(out, o_var, node_kinds)
    return out
