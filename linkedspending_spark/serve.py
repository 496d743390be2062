"""Triple-pattern query surface over materialized triple tables.

The reference serves its converted graph through SPARQL/REST
(Sparql.java:26-53 builds pattern queries; Rest.java:86-91 exposes
them). A switching user's first post-conversion need is "give me the
triples matching (s?, p?, o?)" — ``match`` covers that 80% over the
partitioned parquet/Iceberg triple table. The reference's own catalog
queries are conjunctive multi-pattern selects (Sparql.java:44:
``?d a qb:DataSet . ?d dcterms:modified ?m . ?d dcterms:created ?c``)
— ``select_bgp`` evaluates exactly that shape: a basic graph pattern
as a join tree of pushed-down pattern scans, and ``select_sparql``
layers OPTIONAL (left-joined pattern groups), FILTER (earliest-bound
expression predicates), UNION (by-name branch union, NULL = unbound),
DISTINCT, ORDER BY and LIMIT on top — covering the forms
Sparql.java's free-form queries actually use and then some. Textual
queries (the reference's ``Sparql.select(query)`` strings) parse onto
this algebra via :mod:`linkedspending_spark.sparql`.

Scale shape: every bound term becomes a pushed-down parquet filter
(min/max + dictionary pruning on the sorted columns), and a bound
``dataset`` additionally prunes *partitions* via the bucket column —
the scan touches only ``1/n_buckets`` of the table, shown under
``PartitionFilters`` in the physical plan (gated by pytest).
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .sources.local import local_frame


def read_triple_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a materialized triple table, keeping the bucket partition col."""
    return spark.read.parquet(path)


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
    ``bucket`` partition column, the matching bucket is computed from
    the same ``pmod(xxhash64(dataset), n)`` rule (jobs.py:bucket_of) as
    a foldable expression — Catalyst constant-folds it and prunes all
    other partitions (``PartitionFilters``).

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
    ``groupBy('p')`` pass collecting, per predicate, the triple count
    and the approximate distinct subject/object counts, plus one tiny
    global aggregate. Predicates are vocabulary-sized (dozens–hundreds
    at any corpus scale), so the collected dict is O(vocabulary) driver
    traffic regardless of table size — compute once per table version
    and reuse across queries.
    """
    per_p = {
        r["p"]: {"count": r["n"], "n_s": r["ns"], "n_o": r["no"]}
        for r in triples.groupBy("p")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct("s").alias("ns"),
            F.approx_count_distinct("o").alias("no"),
        )
        .collect()
    }
    g = triples.agg(
        F.count(F.lit(1)).alias("total"),
        F.approx_count_distinct("s").alias("ns"),
        F.approx_count_distinct("o").alias("no"),
    ).collect()[0]
    return {
        "total": g["total"],
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
    graph_var: str | None = None,
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
        gv: str | None = None
        gexpr = None
        if graph_var is not None:
            # GRAPH ?g { ... }: every pattern binds ?g from the dataset
            # partition column as the reference's sub-graph URI
            # (Virtuoso.java:30 <base><datasetName>); the shared join
            # variable then keeps the whole group within ONE graph,
            # per SPARQL's GRAPH semantics
            if "dataset" not in triples.columns:
                raise ValueError(
                    "GRAPH ?var needs a triple table carrying the "
                    "'dataset' partition column"
                )
            gv = graph_var[1:]
            from . import model as _M

            gexpr = F.concat(F.lit(_M.PREFIX_GRAPH), F.col("dataset"))
            if gv in first_col:  # GRAPH ?g { ?g ... }: positions agree
                df = df.where(gexpr == F.col(first_col[gv]))
                gv = None
            elif gv not in out_order:
                out_order.append(gv)
        if first_col or gv:
            cols = [F.col(c).alias(v) for v, c in first_col.items()]
            if gv:
                cols.append(gexpr.alias(gv))
                if with_kinds:
                    cols += [
                        F.lit("uri").alias(f"{gv}__kind"),
                        F.lit(None).cast("string").alias(f"{gv}__datatype"),
                        F.lit(None).cast("string").alias(f"{gv}__lang"),
                    ]
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
        varset = frozenset(first_col) | ({gv} if gv else frozenset())
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


# quote-aware: a ?word inside a quoted SQL string literal (e.g. a URI
# containing '?query=') is NOT a variable reference and must survive
# untouched — group 1 captures literals verbatim, group 2 real variables
_FILTER_VAR = re.compile(
    r"('(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\")|\?(\w+)"
)


def _filter_vars(expr: str) -> frozenset[str]:
    return frozenset(
        m.group(2) for m in _FILTER_VAR.finditer(expr) if m.group(2)
    )


# ?var <cmp> number / number <cmp> ?var (quote-aware): the variable is
# compared NUMERICALLY via try_cast, so a row whose lexical form is not
# a number DROPS from the solution (SPARQL's expression-error semantics)
# instead of throwing CAST_INVALID_INPUT out of ANSI codegen — one
# malformed triple must not 500 the whole query.
_NUM_LIT = r"-?\d+(?:\.\d+)?"
_CMP_OP = r"(?:<=|>=|!=|<|>|=)"
_VAR_CMP_NUM = re.compile(
    rf"('(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\")"
    rf"|\?(\w+)(\s*{_CMP_OP}\s*)({_NUM_LIT})(?![\w.])"
    rf"|(?<![\w.?])({_NUM_LIT})(\s*{_CMP_OP}\s*)\?(\w+)"
)


def _numeric_compare_pass(expr: str) -> str:
    def sub(m: re.Match) -> str:
        if m.group(1) is not None:
            return m.group(1)
        if m.group(2) is not None:
            return f"try_cast(?{m.group(2)} as double){m.group(3)}{m.group(4)}"
        return f"{m.group(5)}{m.group(6)}try_cast(?{m.group(7)} as double)"

    return _VAR_CMP_NUM.sub(sub, expr)


def _translate_filter(expr: str) -> str:
    """``?var`` references → backtick-quoted column references
    (skipping quoted string literals); numeric comparisons go through
    :func:`_numeric_compare_pass` (malformed values drop, not throw)."""
    return _FILTER_VAR.sub(
        lambda m: m.group(1) if m.group(1) else f"`{m.group(2)}`",
        _numeric_compare_pass(expr),
    )


def _translate_filter_mapped(expr: str, mapping: dict[str, str]) -> str:
    """Like :func:`_translate_filter` but renaming variables through
    *mapping* first (used to point OPTIONAL-scoped filters at the
    renamed right side of the left join)."""
    return _FILTER_VAR.sub(
        lambda m: m.group(1)
        if m.group(1)
        else f"`{mapping.get(m.group(2), m.group(2))}`",
        _numeric_compare_pass(expr),
    )


def _optional_payload(payload) -> tuple[list[tuple], list[str]]:
    """An ``("optional", ...)`` group payload is either a plain pattern
    group (back-compat) or ``(patterns, filters)`` with group-scoped
    FILTER expressions. Distinguished structurally: a pattern group's
    first element is an ``(s, p, o)`` term tuple (strings), the new
    form's first element is the pattern LIST."""
    if (
        isinstance(payload, tuple)
        and len(payload) == 2
        and isinstance(payload[0], (list, tuple))
        and (not payload[0] or not isinstance(payload[0][0], str))
    ):
        return list(payload[0]), list(payload[1])
    return list(payload), []


def select_sparql(
    triples: DataFrame,
    patterns: Sequence[tuple],
    optionals: Sequence[Sequence[tuple]] = (),
    filters: Sequence[str] = (),
    unions: Sequence[Sequence[Sequence[tuple]]] = (),
    minuses: Sequence[Sequence[tuple]] = (),
    distinct: bool = False,
    order_by: Sequence[str] = (),
    limit: int | None = None,
    dataset: str | list[str] | None = None,
    n_buckets: int | None = None,
    manifest_path: str | None = None,
    stats: dict | None = None,
    groups: Sequence[tuple] | None = None,
    with_kinds: bool = False,
    named_datasets: list[str] | None = None,
) -> DataFrame:
    """SPARQL SELECT beyond the conjunctive BGP: OPTIONAL + FILTER +
    UNION + DISTINCT/ORDER BY/LIMIT over :func:`select_bgp` groups
    (Sparql.java:26-53's free-form surface — e.g. the reference's
    dataset listings with optionally-present dcterms fields).

    * ``optionals`` — each entry is a pattern group evaluated as its own
      BGP and LEFT-joined on the variables shared with the solution so
      far (SPARQL OPTIONAL). Variables introduced only in an optional
      group come back NULL where the group found no match. BGP solution
      columns are never NULL (triple terms are non-null), so the SQL
      left equi-join is exactly SPARQL's compatibility join here.
    * ``filters`` — Spark SQL boolean expressions over ``?var``
      references (e.g. ``"?year >= '2021'"``). Each filter is applied at
      the EARLIEST group at which all its variables are bound: filters
      over required variables land right after the main BGP (Catalyst
      then pushes them through the inner joins into the scans); filters
      over optional variables land after that optional's left join,
      where a NULL (unbound) variable makes the comparison false — the
      SQL NULL rule coincides with SPARQL's "type error → false".
    * ``unions`` — each entry is ONE union expression: a list of ≥2
      alternative pattern groups (``{A} UNION {B}``). Each branch is
      evaluated as its own BGP; branch solutions are unioned by name
      (variables a branch does not bind come back NULL = unbound), and
      the union's solutions join the solution so far on the shared
      variables. A shared variable must be bound by EVERY branch —
      SPARQL's compatibility join would accept an unbound shared
      variable where the SQL equi-join drops it, so that case raises
      instead of silently diverging.
    * ``minuses`` — each entry is a pattern group evaluated as its own
      BGP; solutions that agree with some group row on >= 1 shared
      variable are REMOVED (SPARQL MINUS → LEFT ANTI equi-join; no
      shared variable removes nothing, the spec's disjoint-domain
      rule). The text parser also passes group entries ``("minus",
      patterns)`` (positional) and ``("exists", (patterns, positive))``
      (FILTER [NOT] EXISTS → LEFT SEMI / LEFT ANTI on the shared
      variables, applied after all positional groups — SPARQL scopes a
      FILTER to its whole group).
    * ``distinct`` / ``order_by`` / ``limit`` — SELECT DISTINCT,
      ORDER BY (``"?var"`` ascending, ``"-?var"`` descending), LIMIT.
      ORDER BY + LIMIT together plan as TakeOrderedAndProject (per-
      partition top-k, no global sort) — the serving-path shape.

    * ``groups`` — explicit evaluation order: a sequence of
      ``("optional", pattern_group | (pattern_group, filters))`` /
      ``("optional_solutions", (df, nullable_vars, filters))`` (a
      pre-evaluated OPTIONAL body with nested algebra — the sparql
      text layer's bottom-up bridge; LEFT-joined like "optional",
      joins on its conditionally-bound vars refused) /
      ``("union", branches)`` / ``("values", (var_names, rows))`` /
      ``("bind", (sql_expr, var))`` entries evaluated in SOURCE
      order (SPARQL group-graph-pattern semantics — an OPTIONAL whose
      shared variable is bound by an earlier UNION must join after it).
      An optional group's own ``filters`` join the LEFT JOIN's ON
      condition (SPARQL LeftJoin(Ω1, Ω2, expr)): unmatched solutions
      are kept NULL-extended, unlike a solution-level filter.
      When omitted, all ``optionals`` evaluate before all ``unions``
      (back-compat; the text parser always passes ``groups``). A
      VALUES block becomes a LocalRelation inner-joined
      on its shared variables — inline data never launches a Spark job
      to build, and a small VALUES side broadcast-prunes the join.

    A join on a variable that may be NULL (unbound) on either side —
    introduced by an earlier OPTIONAL, or by a union branch that does
    not bind it — is REFUSED: SPARQL's compatibility semantics treat
    unbound as joinable-with-anything where the SQL equi-join drops the
    row, so that case raises instead of silently diverging.

    Scale shape: each group is an independently-ordered BGP join tree
    (pass ``stats`` for selectivity ordering); OPTIONAL groups join on
    their shared variables, so a selective main group broadcasts into
    every optional instead of re-scanning the corpus. UNION branches
    are independent pushed-down scans — Spark unions are plan-level
    (no shuffle, no materialization).

    ``with_kinds=True`` threads each variable's RDF term typing through
    as ``<v>__kind``/``<v>__datatype``/``<v>__lang`` companion columns
    (see :func:`select_bgp`); joins still key on the variable columns
    only. Variables bound only by VALUES or BIND carry no companions
    (consumers fall back per-binding). Note DISTINCT then dedups by
    TERM identity (lexical form + kind + datatype + lang) — the more
    SPARQL-faithful reading.

    ``dataset`` takes a single partition name or a SET (the FROM
    default-graph merge; ``[]`` = the empty default graph).
    ``named_datasets`` lists the graphs GRAPH clauses may address
    (SPARQL 13.2 FROM NAMED — ``None`` = no dataset description, GRAPH
    ranges over every partition).
    """
    kw = dict(
        dataset=dataset,
        n_buckets=n_buckets,
        manifest_path=manifest_path,
        stats=stats,
        with_kinds=with_kinds,
    )

    def _join_vars(cols) -> list[str]:
        """Join keys: shared VARIABLE columns (never companions)."""
        return [
            c
            for c in out_order
            if c in cols and not (with_kinds and _is_companion(c))
        ]
    if groups is None:
        groups = (
            [("optional", g) for g in optionals]
            + [("union", u) for u in unions]
            + [("minus", m) for m in minuses]
        )
    groups = list(groups)
    # FILTER (NOT) EXISTS is group-level (SPARQL scopes every FILTER to
    # the whole group it appears in), so those entries evaluate AFTER
    # the positional groups regardless of source position
    exists_entries = [
        g for g in groups if g[0] in ("exists", "exists_solutions")
    ]
    groups = [
        g for g in groups if g[0] not in ("exists", "exists_solutions")
    ]
    nullable: set[str] = set()  # vars that may be NULL (unbound)
    if patterns:
        df = select_bgp(triples, patterns, **kw)
    elif groups and groups[0][0] == "union":
        # SPARQL allows a query that is just a UNION: the first union
        # expression is the base solution, the rest join onto it below
        df, branch_cols = _eval_union(triples, groups.pop(0)[1], kw)
        nullable |= {
            c
            for c in df.columns
            if any(c not in bc for bc in branch_cols)
        }
    elif groups and groups[0][0] == "values":
        names, rows = groups.pop(0)[1]
        df = _values_df(triples.sparkSession, names, rows)
        nullable |= {
            n for i, n in enumerate(names) if any(r[i] is None for r in rows)
        }
    elif groups and groups[0][0] == "bind":
        # a query that starts with BIND: base = the single empty
        # solution (SPARQL's Join(BGP(), ...) identity) — one row, no
        # columns; the bind branch below adds the variable
        df = triples.sparkSession.range(1).drop("id")
    elif groups and groups[0][0] == "solutions":
        # a query that IS a subquery: its solutions are the base
        df, sub_nullable = groups.pop(0)[1]
        nullable |= set(sub_nullable)
    elif groups and groups[0][0] == "graph":
        # a query that IS a GRAPH group: its scoped BGP is the base
        df = _eval_graph(triples, groups.pop(0)[1], kw, named_datasets)
    elif groups and groups[0][0] == "path":
        # a query that IS a quantified property path: the closure's
        # solutions are the base
        s_t, p_uri, o_t, quant = groups.pop(0)[1]
        df = path_closure(
            triples,
            s_t,
            p_uri,
            o_t,
            quant,
            dataset=dataset,
            n_buckets=n_buckets,
            manifest_path=manifest_path,
            with_kinds=with_kinds,
        )
    else:
        raise ValueError(
            "select_sparql needs patterns, a union, values, a bind or "
            "a path"
        )
    out_order = list(df.columns)
    bound = set(out_order)
    remaining = list(filters)

    def apply_ready(d: DataFrame) -> DataFrame:
        for f in list(remaining):
            vs = _filter_vars(f)
            if not vs:
                raise ValueError(f"filter {f!r} references no ?variable")
            if vs <= bound:
                d = d.where(F.expr(_translate_filter(f)))
                remaining.remove(f)
        return d

    def _refuse_nullable_join(shared: list, side: str) -> None:
        null_shared = [c for c in shared if c in nullable]
        if null_shared:
            raise ValueError(
                f"join on possibly-unbound variable(s) {null_shared} "
                f"({side}) — SPARQL's compatibility join on unbound "
                "variables is not supported; bind them unconditionally "
                "first"
            )

    df = apply_ready(df)
    for kind, payload in groups:
        if kind in ("optional", "optional_solutions"):
            if kind == "optional":
                opt_patterns, opt_filters = _optional_payload(payload)
                opt = select_bgp(triples, opt_patterns, **kw)
                opt_nullable: frozenset = frozenset()
            else:
                # pre-evaluated OPTIONAL body with nested algebra (the
                # sparql text layer's bottom-up bridge): solutions df +
                # the vars it binds only conditionally + the body's
                # outer-referencing filters (LeftJoin ON condition)
                opt, opt_nullable, opt_filters = payload
            shared = _join_vars(opt.columns)
            if with_kinds and shared and kind == "optional":
                # prefix already carries the shared vars' companions
                # (pre-evaluated bodies carry none)
                opt = opt.drop(
                    *[
                        c
                        for v in shared
                        for c in _companions_of(v, opt.columns)
                    ]
                )
            bad = [c for c in shared if c in opt_nullable]
            if bad:
                raise ValueError(
                    f"join on possibly-unbound variable(s) {bad} "
                    "(optional-group side of OPTIONAL) — SPARQL's "
                    "compatibility join on unbound variables is not "
                    "supported; bind them unconditionally in the "
                    "OPTIONAL body"
                )
            _refuse_nullable_join(shared, "solution side of OPTIONAL")
            new = [c for c in opt.columns if c not in bound]
            if opt_filters:
                # SPARQL LeftJoin(Ω1, Ω2, expr): the group-scoped filter
                # is part of the join CONDITION — a solution whose
                # optional match fails it is KEPT and NULL-extended,
                # where a solution-level (post-join) filter would drop
                # it. Rename the optional side so the condition can name
                # both sides unambiguously; NULL/type-error → false is
                # SQL's join-condition rule too, matching SPARQL.
                ren = {c: f"__opt__{c}" for c in opt.columns}
                opt_r = opt.select(
                    *[F.col(c).alias(ren[c]) for c in opt.columns]
                )
                cond = F.lit(True)
                for c in shared:
                    cond = cond & (F.col(c) == F.col(ren[c]))
                for raw in opt_filters:
                    vs = _filter_vars(raw)
                    unknown = sorted(
                        v for v in vs
                        if v not in bound and v not in opt.columns
                    )
                    if unknown:
                        raise ValueError(
                            "FILTER inside OPTIONAL references "
                            f"variable(s) {unknown} bound by neither the "
                            "solution nor the optional group"
                        )
                    # vars the optional binds read from the renamed right
                    # side; outer-only vars read from the solution (for
                    # shared vars both sides are equal under the join)
                    cond = cond & F.expr(
                        _translate_filter_mapped(
                            raw,
                            {v: ren[v] for v in vs if v in ren},
                        )
                    )
                df = df.join(opt_r, cond, "left").select(
                    *out_order, *[F.col(ren[c]).alias(c) for c in new]
                )
            else:
                df = (
                    df.join(opt, on=shared, how="left")
                    if shared
                    # no shared variable: every solution extends with
                    # every optional row, NULL-extended when empty
                    else df.join(opt, F.lit(True), "left")
                )
            nullable |= set(new)  # unmatched solutions leave them NULL
            out_order += new
            bound |= set(opt.columns)
        elif kind == "union":
            u, branch_cols = _eval_union(triples, payload, kw)
            shared = _join_vars(u.columns)
            if with_kinds and shared:
                u = u.drop(
                    *[c for v in shared for c in _companions_of(v, u.columns)]
                )
            partial = [
                c for c in shared if any(c not in bc for bc in branch_cols)
            ]
            if partial:
                raise ValueError(
                    f"union branch leaves shared variable(s) {partial} "
                    "unbound — SPARQL's compatibility join on unbound "
                    "variables is not supported; bind them in every branch"
                )
            _refuse_nullable_join(shared, "solution side of UNION")
            df = df.join(u, on=shared) if shared else df.crossJoin(u)
            new = [c for c in u.columns if c not in bound]
            nullable |= {
                c for c in new if any(c not in bc for bc in branch_cols)
            }
            out_order += new
            bound |= set(u.columns)
        elif kind == "values":
            names, rows = payload
            v = _values_df(triples.sparkSession, names, rows)
            shared = _join_vars(v.columns)
            undef_shared = [
                c
                for c in shared
                if any(r[names.index(c)] is None for r in rows)
            ]
            if undef_shared:
                raise ValueError(
                    f"VALUES leaves shared variable(s) {undef_shared} "
                    "UNDEF in some row — SPARQL's compatibility join on "
                    "unbound variables is not supported"
                )
            _refuse_nullable_join(shared, "solution side of VALUES")
            df = df.join(v, on=shared) if shared else df.crossJoin(v)
            new = [c for c in v.columns if c not in bound]
            nullable |= {
                c
                for c in new
                if any(r[names.index(c)] is None for r in rows)
            }
            out_order += new
            bound |= set(v.columns)
        elif kind == "bind":
            # BIND(expr AS ?v): evaluate in source order over the
            # solution so far — a narrow projection, no shuffle.
            # Payload is (sql_expr, var) or (sql_expr, var, meta) where
            # meta carries an RDF term constructor's constant
            # kind/datatype/lang (sparql._bind_expression).
            sql_expr, name = payload[0], payload[1]
            meta = payload[2] if len(payload) > 2 else None
            if name in bound:
                raise ValueError(
                    f"BIND would rebind already-bound variable ?{name} "
                    "(SPARQL forbids it)"
                )
            missing = sorted(
                v for v in _filter_vars(sql_expr) if v not in bound
            )
            if missing:
                raise ValueError(
                    f"BIND expression references unbound variable(s) "
                    f"{missing}"
                )
            df = df.withColumn(name, F.expr(_translate_filter(sql_expr)))
            nullable.add(name)  # the expression may evaluate to NULL
            out_order.append(name)
            bound.add(name)
            if with_kinds:
                # constructor meta → constant companions; plain BIND →
                # NULL companions (the documented "NULL kind = plain
                # literal" convention), so LANG()/DATATYPE()/isURI()
                # over a BIND-born variable evaluate instead of failing
                # name resolution
                m = meta or {}
                for suf, key in (("__kind", "kind"),
                                 ("__datatype", "datatype"),
                                 ("__lang", "lang")):
                    # NULL when the value itself is NULL: an unbound
                    # variable has no term, so no kind either
                    df = df.withColumn(
                        name + suf,
                        F.when(
                            F.col(name).isNotNull(), F.lit(m.get(key))
                        ).cast("string"),
                    )
                    out_order.append(name + suf)
                bound.add(name + "__kind")
                bound.add(name + "__datatype")
                bound.add(name + "__lang")
        elif kind == "graph":
            g = _eval_graph(triples, payload, kw, named_datasets)
            shared = _join_vars(g.columns)
            if with_kinds and shared:
                g = g.drop(
                    *[c for v in shared for c in _companions_of(v, g.columns)]
                )
            _refuse_nullable_join(shared, "solution side of GRAPH")
            df = df.join(g, on=shared) if shared else df.crossJoin(g)
            new = [c for c in g.columns if c not in bound]
            out_order += new
            bound |= set(g.columns)
        elif kind == "solutions":
            # pre-evaluated solution set (SPARQL 1.1 subquery — the
            # text layer evaluates the inner SELECT bottom-up): joined
            # on the shared variables like a UNION group. The payload
            # names which subquery columns may be NULL (vars projected
            # from optionals/aggregates) — a join on one of those is
            # refused, same compatibility-semantics rule as everywhere.
            sub, sub_nullable = payload
            shared = _join_vars(sub.columns)
            bad = [c for c in shared if c in sub_nullable]
            if bad:
                raise ValueError(
                    f"join on possibly-unbound subquery variable(s) "
                    f"{bad} — SPARQL's compatibility join on unbound "
                    "variables is not supported; project only "
                    "always-bound variables from the subquery"
                )
            _refuse_nullable_join(shared, "solution side of a subquery")
            df = df.join(sub, on=shared) if shared else df.crossJoin(sub)
            new = [c for c in sub.columns if c not in bound]
            nullable |= {c for c in new if c in sub_nullable}
            out_order += new
            bound |= set(sub.columns)
        elif kind == "path":
            # quantified property path (p+ / p* / p?): the closure's
            # solution pairs join the solution so far on the shared
            # variables, exactly like a UNION group. Path variables are
            # never NULL. A both-ends-constant path is an existence
            # gate: LEFT SEMI against its ≤1-row result (the EXISTS
            # degenerate shape — broadcast, never duplicates solutions).
            s_t, p_uri, o_t, quant = payload
            pc = path_closure(
                triples,
                s_t,
                p_uri,
                o_t,
                quant,
                dataset=dataset,
                n_buckets=n_buckets,
                manifest_path=manifest_path,
                with_kinds=with_kinds,
            )
            if pc.columns == ["__pp_exists"]:
                df = df.join(pc.limit(1), F.lit(True), "left_semi")
            else:
                shared = _join_vars(pc.columns)
                if with_kinds and shared:
                    pc = pc.drop(
                        *[
                            c
                            for v in shared
                            for c in _companions_of(v, pc.columns)
                        ]
                    )
                _refuse_nullable_join(
                    shared, "solution side of a property path"
                )
                df = df.join(pc, on=shared) if shared else df.crossJoin(pc)
                new = [c for c in pc.columns if c not in bound]
                out_order += new
                bound |= set(pc.columns)
        elif kind == "minus":
            # SPARQL Minus(Ω1, Ω2): drop solutions some right-side
            # solution agrees with on >= 1 shared variable. BGP right
            # sides bind every variable, so a LEFT ANTI equi-join on the
            # shared variables is exact; Catalyst broadcasts a small
            # right side. No shared variable → disjoint domains → MINUS
            # removes nothing (kept verbatim, per the spec).
            m = select_bgp(triples, payload, **kw)
            shared = _join_vars(m.columns)
            _refuse_nullable_join(shared, "solution side of MINUS")
            if shared:
                df = df.join(m.select(*shared), on=shared, how="left_anti")
        elif kind == "minus_solutions":
            # pre-evaluated MINUS body with nested algebra (the sparql
            # text layer's bottom-up bridge): same LEFT ANTI on the
            # shared variables; a shared variable the body binds only
            # conditionally is refused — SPARQL's compatibility test
            # would treat its unbound rows as matching-anything where
            # the SQL anti join would not remove them
            m, m_nullable = payload
            shared = _join_vars(m.columns)
            bad = [c for c in shared if c in m_nullable]
            if bad:
                raise ValueError(
                    f"join on possibly-unbound variable(s) {bad} "
                    "(MINUS body side) — SPARQL's compatibility join "
                    "on unbound variables is not supported; bind them "
                    "unconditionally in the MINUS body"
                )
            _refuse_nullable_join(shared, "solution side of MINUS")
            if shared:
                df = df.join(m.select(*shared), on=shared, how="left_anti")
        else:
            raise ValueError(f"unknown group kind {kind!r}")
        df = apply_ready(df)
    for ex_kind, ex_payload in exists_entries:
        # FILTER EXISTS → LEFT SEMI join on the shared variables;
        # FILTER NOT EXISTS → LEFT ANTI. Semi/anti joins return only
        # left columns, never duplicate solutions, and broadcast a
        # small probe side — the Catalyst shape for SPARQL's
        # binding-substituted existence test over BGP groups. With no
        # shared variable the test degenerates to "is the group
        # non-empty at all": join on TRUE against limit(1).
        if ex_kind == "exists":
            ex_patterns, positive = ex_payload
            e = select_bgp(triples, ex_patterns, **kw)
            e_nullable: frozenset = frozenset()
        else:
            # pre-evaluated body with nested algebra (bottom-up bridge)
            e, e_nullable, positive = ex_payload
        shared = _join_vars(e.columns)
        bad = [c for c in shared if c in e_nullable]
        if bad:
            raise ValueError(
                f"join on possibly-unbound variable(s) {bad} (FILTER "
                "EXISTS body side) — SPARQL's compatibility join on "
                "unbound variables is not supported; bind them "
                "unconditionally in the EXISTS body"
            )
        _refuse_nullable_join(shared, "solution side of FILTER EXISTS")
        how = "left_semi" if positive else "left_anti"
        if shared:
            df = df.join(e.select(*shared), on=shared, how=how)
        else:
            df = df.join(e.limit(1), F.lit(True), how)
    if remaining:
        raise ValueError(
            "filter(s) reference variables bound by no group: "
            f"{sorted(remaining)}"
        )
    df = df.select(*out_order)
    if distinct:
        df = df.dropDuplicates()
    if order_by:
        keys = []
        for tok in order_by:
            desc = tok.startswith("-")
            var = tok.lstrip("-").lstrip("?")
            if var not in bound:
                raise ValueError(f"order_by variable ?{var} is unbound")
            keys.append(F.col(var).desc() if desc else F.col(var).asc())
        df = df.orderBy(*keys)
    if limit is not None:
        df = df.limit(limit)
    return df


def _values_df(spark: SparkSession, names: Sequence[str], rows) -> DataFrame:
    """Inline VALUES data as a string-typed LocalRelation
    (sources/local.py). UNDEF → NULL (SPARQL unbound)."""
    schema = T.StructType([T.StructField(n, T.StringType()) for n in names])
    return local_frame(spark, rows, schema)


def _eval_graph(
    triples: DataFrame, payload: tuple, kw: dict, named: list | None = None
) -> DataFrame:
    """One ``GRAPH term { patterns }`` group. Named graphs are the
    triple table's ``dataset`` partitions, addressed as the reference's
    sub-graph URIs ``<PREFIX_GRAPH><datasetName>`` (Virtuoso.java:30).

    * Constant graph URI → the group is a plain BGP with ``dataset``
      bound: every scan in it partition-prunes (the whole point of
      per-dataset graphs at 10¹² triples). A URI outside the graph-base
      namespace, or disagreeing with an outer ``dataset=`` scope, names
      no graph → the group contributes zero solutions (SPARQL: an
      absent graph is an empty graph).
    * Variable → every pattern additionally binds it from the dataset
      column (see :func:`select_bgp` ``graph_var``); the shared join
      variable keeps the whole group inside ONE graph.
    """
    from . import model as _M

    g_term, pats = payload
    if _is_var(g_term):
        kw2 = dict(kw)
        if named is not None:
            # FROM NAMED: the graph variable ranges over exactly the
            # listed graphs ([] = no named graphs = zero solutions)
            kw2["dataset"] = named
        elif isinstance(kw2.get("dataset"), (list, tuple)):
            # a FROM default-graph scope does NOT constrain GRAPH —
            # the clause switches the active graph
            kw2["dataset"] = None
        return select_bgp(triples, pats, graph_var=g_term, **kw2)
    if "dataset" not in triples.columns:
        raise ValueError(
            "GRAPH needs a triple table carrying the 'dataset' "
            "partition column"
        )
    if not g_term.startswith(_M.PREFIX_GRAPH):
        name = g_term  # no dataset is named this → empty group
    else:
        name = g_term[len(_M.PREFIX_GRAPH):]
    caller_ds = kw.get("dataset")
    if isinstance(caller_ds, str) and caller_ds != name:
        # outer serving scope and the GRAPH clause name different graphs
        return select_bgp(triples, pats, **kw).where(F.lit(False))
    if named is not None and name not in named:
        # dataset description present: GRAPH sees only FROM NAMED graphs
        return select_bgp(triples, pats, **kw).where(F.lit(False))
    kw2 = dict(kw)
    kw2["dataset"] = name
    return select_bgp(triples, pats, **kw2)


def _eval_union(
    triples: DataFrame, groups: Sequence[Sequence[tuple]], kw: dict
) -> tuple[DataFrame, list[set]]:
    """One SPARQL UNION expression: branch BGPs unioned by variable name.

    Returns the unioned solutions plus each branch's bound-variable set
    (the caller refuses equi-joins on variables some branch leaves
    unbound). unionByName(allowMissingColumns=True) NULL-extends the
    variables a branch does not bind — exactly SPARQL's unbound.
    """
    if len(groups) < 2:
        raise ValueError("a union expression needs >= 2 branches")
    branches = [select_bgp(triples, g, **kw) for g in groups]
    cols: list[str] = []
    for b in branches:
        cols += [c for c in b.columns if c not in cols]
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b, allowMissingColumns=True)
    return out.select(*cols), [set(b.columns) for b in branches]


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
    bucket partitions. A constant endpoint evaluates as frontier BFS
    (seeded from the constant, each round one equi-join + anti-join on
    the frontier — the frontier stays proportional to the reachable
    set, never the corpus). Var-var closure expands the full pair set
    one hop per round — the spec's quadratic worst case; keep one end
    bound in queries over large graphs. Each round lazily checkpoints
    (lineage truncation, same discipline as the sameAs CC loop) and the
    convergence check is the round's single action. AQE coalesces the
    per-round micro-shuffles exactly as in ``connected_components``.
    """
    from .operators.canon import lineage_checkpoint

    if quant not in ("+", "*", "?"):
        raise ValueError(f"unknown path quantifier {quant!r}")
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
        frontier = lineage_checkpoint(frontier)
        reach = frontier
        for _ in range(max_hops):
            if frontier.isEmpty():
                return reach
            nxt = (
                frontier.join(edges, frontier["__n"] == edges["__a"])
                .select(F.col("__b").alias("__n"))
                .distinct()
            )
            frontier = lineage_checkpoint(nxt.join(reach, "__n", "left_anti"))
            reach = reach.unionAll(frontier)
        if not frontier.isEmpty():
            raise ValueError(
                f"property path {p_str}{quant} did not converge within "
                f"{max_hops} hops — raise max_hops for this graph"
            )
        return reach

    if const is not None and var is None:
        # both ends constant: existence gate (1 row = path exists)
        if quant in ("*", "?") and s == o:
            return triples.sparkSession.range(1).select(
                F.lit(1).alias("__pp_exists")
            )
        # forward BFS from s, look for o (edges are forward here: both
        # ends constant never went through the reversing branch)
        reach = _bfs(s)
        return (
            reach.where(F.col("__n") == o)
            .limit(1)
            .select(F.lit(1).alias("__pp_exists"))
        )
    if const is not None:
        reach = _bfs(const).select(F.col("__n").alias(var))
        if quant in ("*", "?"):
            zero = _values_df(triples.sparkSession, [var], [(const,)])
            reach = reach.unionAll(zero).distinct()
        out = reach
        if with_kinds:
            out = _attach_node_kinds(out, var, _node_kind_map(scoped))
        return out

    # var-var: full pair closure (documented worst case)
    pairs = edges.distinct()
    if quant != "?":
        pairs = lineage_checkpoint(pairs)
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
            frontier = lineage_checkpoint(
                nxt.join(pairs, ["__a", "__b"], "left_anti")
            )
            pairs = pairs.unionAll(frontier)
        else:
            if not frontier.isEmpty():
                raise ValueError(
                    f"property path {p_str}{quant} did not converge within "
                    f"{max_hops} hops — raise max_hops for this graph"
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
            out = _attach_node_kinds(out, s_var, _node_kind_map(scoped))
        return out
    out = pairs.select(
        F.col("__a").alias(s_var), F.col("__b").alias(o_var)
    )
    if with_kinds:
        nk = _node_kind_map(scoped)
        out = _attach_node_kinds(out, s_var, nk)
        out = _attach_node_kinds(out, o_var, nk)
    return out
