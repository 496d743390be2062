"""Entity canonicalization: exact dictionary links + connected components.

Reference analogs: the ``createlinks`` script emits all-pairs
``owl:sameAs`` within a URI group (createlinks:1-10) — fine at file
scale, quadratic at ours. At 10^12 turns the same semantics is
"canonicalize every node to its component representative", computed with
the alternating large-star/small-star method (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) as iterative DataFrame
self-joins with a driver-side convergence check — the SURVEY.md §4
"driver loop of self-joins, not a planner rule" design.

Skew note: the per-node min aggregations are algebraic (map-side
partial agg absorbs hub fan-in) and neighbor re-emission is an
equi-join against the per-node min table, which AQE skew-join splitting
(on in session.py) divides when a celebrity node's partition is
outsized — no collect_set ever materializes a hub adjacency list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import model as M
from ..sources.local import local_frame

# rows a driver-side map may hold (edge lists, merge maps): tens of MB.
# Under it a map is collected once and used as a LocalRelation, which
# Spark scans and broadcasts without a job; over it the distributed
# formulation runs.
LOCAL_THRESHOLD = 100_000


def bounded_rows(df: DataFrame, limit: int | None = None) -> list | None:
    """``df``'s rows when there are at most ``limit`` (default
    :data:`LOCAL_THRESHOLD`), else ``None``. One Spark job (CollectLimit
    reads partitions incrementally); none when ``df`` is a LocalRelation
    under filters and projections, which the optimizer folds away. A
    bound of 0 means "distributed": ``None`` without a job, even for an
    empty ``df``."""
    if limit is None:
        limit = LOCAL_THRESHOLD
    if limit <= 0:
        return None
    rows = df.limit(limit + 1).collect()
    return rows if len(rows) <= limit else None


def lineage_checkpoint(df: DataFrame) -> DataFrame:
    """Truncate lineage for an iterative loop, executor-loss-safely.

    When a checkpoint directory is configured
    (``spark.sparkContext.setCheckpointDir``) this uses a *reliable*
    checkpoint: blocks go to the (HDFS-compatible) checkpoint dir, so
    losing an executor on a real cluster cannot strand the truncated
    lineage. Without one it falls back to ``localCheckpoint`` — fine in
    local mode / sandbox, where executor loss means process death
    anyway. Lazy either way: the caller's next action materializes it.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)


def exact_dictionary_links(
    labels: DataFrame, dictionary: DataFrame, label_col: str = "label"
) -> DataFrame:
    """Broadcast-dictionary exact linking (J1/J2 pattern).

    ``labels``: (uri, label); ``dictionary``: (label, uri AS target).
    Returns (s=uri, p=owl:sameAs, o=target) matches on lowercased label.
    """
    lab = labels.withColumn("__k", F.lower(F.col(label_col)))
    dic = dictionary.select(
        F.lower(F.col("label")).alias("__k"), F.col("uri").alias("__target")
    )
    return (
        lab.join(F.broadcast(dic), "__k", "inner")
        .select(
            F.col("uri").alias("s"),
            F.lit(M.OWL_SAMEAS).alias("p"),
            F.col("__target").alias("o"),
        )
        .dropDuplicates(["s", "o"])
    )


def sameas_closure_within_group(df: DataFrame, group_col: str, uri_col: str) -> DataFrame:
    """All-pairs ``owl:sameAs`` within a group (createlinks analog, J6).

    Quadratic in group size — only for small groups; the scale path is
    :func:`connected_components`.
    """
    a = df.select(F.col(group_col).alias("g"), F.col(uri_col).alias("s"))
    b = df.select(F.col(group_col).alias("g"), F.col(uri_col).alias("o"))
    return (
        a.join(b, "g")
        .where(F.col("s") != F.col("o"))
        .select("s", F.lit(M.OWL_SAMEAS).alias("p"), "o")
        .dropDuplicates(["s", "o"])
    )


def property_alias_edges(
    triples: DataFrame,
    fields: tuple[str, ...] = ("role", "text", "tool"),
    canonical_dataset: str = "transcripts",
) -> DataFrame:
    """sameAs edges merging per-dataset property URIs into global anchors.

    The reference lets ``propertymapping.tsv`` map a (dataset, field)
    pair to a shared property URI (ConvertWorker.java:107-122,397-402);
    without it every dataset mints its own ``{ont}{ds}-{field}`` URI for
    the SAME logical field. This derives the merge edges: every minted
    property URI whose field suffix is in ``fields`` links to the global
    anchor ``{ont}{canonical_dataset}-{field}``. Edge count is
    O(datasets × fields) — tiny next to the triple table — and the
    distinct() over predicate/subject URIs is a partial-agg shuffle of
    the URI column only.
    """
    import re as _re

    pat = (
        "^"
        + _re.escape(M.PREFIX_ONTOLOGY)
        + "(.+)-("
        + "|".join(fields)
        + ")$"
    )
    # ONE scan (p and s exploded from the same row), and the regex
    # filter runs BEFORE distinct: the distinct shuffle then carries only
    # property-shaped URIs (O(datasets x fields)), not every observation
    # URI in the graph — at 10^12 triples that is the difference between
    # a trivial shuffle and the largest shuffle in the job.
    anchored = (
        triples.select(F.explode(F.array("p", "s")).alias("uri"))
        .select("uri", F.regexp_extract("uri", pat, 2).alias("field"))
        .where(F.col("field") != "")
        .distinct()
    )
    return anchored.select(
        F.col("uri").alias("src"),
        F.concat(
            F.lit(M.PREFIX_ONTOLOGY + canonical_dataset + "-"), F.col("field")
        ).alias("dst"),
    ).where(F.col("src") != F.col("dst"))


def prefer_representatives(
    components: DataFrame, preferred: DataFrame
) -> DataFrame:
    """Re-root each component at its preferred member when one exists.

    ``components``: (node, component) from :func:`connected_components`
    (representative = min node id). ``preferred``: single-column
    ``uri`` DataFrame of nodes that should win representative election
    (e.g. global anchor URIs). Components containing a preferred node
    are re-keyed to the min preferred member; others keep the min-node
    representative. Both joins are on the small component map.
    """
    pref = preferred.select(F.col("uri").alias("node")).distinct()
    winners = (
        components.join(pref, "node")
        .groupBy("component")
        .agg(F.min("node").alias("rep"))
    )
    return (
        components.join(F.broadcast(winners), "component", "left")
        .select(
            "node",
            F.coalesce(F.col("rep"), F.col("component")).alias("component"),
        )
    )


def local_components(spark, pairs, preferred=frozenset()) -> DataFrame:
    """Driver-side union-find over a collected edge list.

    ``pairs``: ``(u, v)`` node-id tuples (nulls and self-loops skipped).
    Same contract as :func:`connected_components`: component = the
    lexicographic min node id (Python codepoint order == Spark's UTF-8
    binary order for valid strings, so representatives agree with the
    distributed path bit-for-bit). With ``preferred``, a component
    holding a preferred node is keyed to its min preferred member — the
    :func:`prefer_representatives` contract, resolved here without a
    Spark job. Returned as a LocalRelation.
    """
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in pairs:
        if u is None or v is None or u == v:
            continue
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    rep: dict[str, tuple[bool, str]] = {}
    for n in parent:
        root = find(n)
        key = (n not in preferred, n)  # preferred members sort first
        if root not in rep or key < rep[root]:
            rep[root] = key
    data = [(n, rep[find(n)][1]) for n in sorted(parent)]
    return local_frame(spark, data, "node string, component string")


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    local_threshold: int | None = None,
) -> DataFrame:
    """Min-label propagation via alternating large-star / small-star.

    Input: undirected edge list (string node ids). Output:
    ``(node, component)`` where component is the lexicographic min node
    id of the component. Converges in O(log n) rounds; each round is two
    shuffles keyed on node id. The driver loop checks a global sum-hash
    for convergence (one lightweight action per round).

    Adaptive small-graph path (the same class of adaptivity as a
    broadcast-join size threshold): when the deduplicated symmetrized
    edge list fits on the driver (≤ ``local_threshold`` rows, default
    :data:`LOCAL_THRESHOLD` — tens of MB), the O(log n) rounds of
    shuffle/driver latency cost orders of magnitude more than the
    problem itself, so the component map is computed with driver-side
    union-find (:func:`local_components`) in ONE Spark job and returned
    as a local relation. Identical results (same min-label contract);
    the distributed star loop is unchanged and remains the scale path.
    ``local_threshold=0`` forces the distributed path.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .where(F.col("u") != F.col("v"))
    )
    # symmetrize once; all later rounds keep orientation invariants
    e = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()

    # one job: a big graph pays one distinct map pass + a bounded
    # fetch, negligible next to the star rounds it proceeds to run
    rows = bounded_rows(e, local_threshold)
    if rows is not None:
        return local_components(edges.sparkSession, rows)

    # Both stars are formulated WITHOUT collect_set: a hub node's full
    # adjacency never materializes in one aggregation row. min() is
    # algebraic (map-side partial agg absorbs hub fan-in), and the
    # re-emission is an equi-join of the edge list against the tiny
    # per-node min table — which AQE skew-join splits when a hub's
    # partition is outsized. This is what makes 10^8-degree celebrity
    # nodes survivable; a collect_set formulation OOMs on them.

    def large_star(edges_df: DataFrame) -> DataFrame:
        # neighborhoods are over the UNDIRECTED graph: symmetrize first
        # (small-star output is oriented big→small)
        sym = edges_df.union(
            edges_df.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        # for each node u: connect every neighbor v > u to min(N(u) ∪ {u})
        mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        return (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(edges_df: DataFrame) -> DataFrame:
        # orient edges to (larger, smaller); connect all smaller nbrs to min
        oriented = edges_df.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        out = oriented.join(mins, "u").select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        self_edge = mins.select(F.col("u"), F.col("m").alias("v"))
        return (
            out.union(self_edge)
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    # AQE stays ON for the driver loop — measured both ways at sf0.1:
    # AQE's partition coalescing collapses each round's tiny shuffles to
    # a handful of tasks (6.6 s total), while static shuffle partitions
    # spray thousands of micro-tasks (18-20 s). Its skew-join splitting
    # is also load-bearing for hub nodes at scale.
    cur = e
    prev_sig = None
    for _ in range(max_iter):
        # lazy checkpoint: the signature aggregation below is the single
        # action that both materializes this round's edge set (truncating
        # lineage) and tests convergence — one Spark job per round.
        # Reliable (dir-backed) when a checkpoint dir is set; see
        # lineage_checkpoint for the executor-loss rationale.
        cur = lineage_checkpoint(small_star(large_star(cur)))
        sig = cur.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        cur_sig = (sig["n"], sig["h"])
        if cur_sig == prev_sig:
            break
        prev_sig = cur_sig

    # final star edges point node → component min; add singletons' reps
    comp = cur.select(F.col("u").alias("node"), F.col("v").alias("component"))
    all_nodes = e.select(F.col("u").alias("node")).distinct()
    return (
        all_nodes.join(comp, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("component"), F.col("node")).alias("component"),
        )
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )


def merge_components(
    assignments: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    changed_only: bool = False,
    local_threshold: int | None = None,
) -> DataFrame:
    """Incremental connected components: fold a new edge wave into an
    existing ``(node, component)`` map without recomputing the graph.

    Equivalent by contract to ``connected_components(old_edges ∪
    new_edges)`` (component = lexicographic min node id), given that
    ``assignments`` came from :func:`connected_components` (or a prior
    ``merge_components``) over ``old_edges`` — the assignment map is a
    connectivity-preserving star contraction of the old graph, and each
    component label is already the min node of its old component, so
    merging labels preserves the min-node contract.

    Scale shape — the point of this operator: the BIG map is never
    shuffled. Steps:

    1. ``touched`` = assignments semi-restricted to the new edges'
       endpoints — an inner join whose build side is the tiny distinct
       endpoint set (broadcast), streamed over the big map: a scan, not
       a shuffle.
    2. Endpoints map through ``touched`` to their current component
       (unknown nodes stay themselves); intra-component edges drop out.
       What remains is a component-level edge list, O(|new_edges|).
    3. :func:`connected_components` over that tiny list yields
       ``delta: (old label or new node) → new label`` — only for
       components actually touched by this wave.
    4. The updated map is ``assignments`` left-joined with the broadcast
       ``delta`` on component (map-side rewrite of a scan), unioned with
       the brand-new nodes. With ``changed_only=True`` only the rows
       whose component changed (plus new nodes) are returned — the
       MERGE-into-table increment, O(affected), for incremental sinks.

    At 10^12 nodes a full CC costs O(log n) shuffles of the edge set;
    this costs a few SCANS of the map (semi-restrict, rewrite, and the
    new-node anti-join — zero shuffles of it) plus CC over O(wave)
    rows. The
    endpoint set and delta are broadcast — a wave too large to
    broadcast is not an increment anymore; recompute with
    :func:`connected_components` over the full edge set instead. The
    companion rewrite for already-canonicalized triple tables is
    :func:`canonicalize_triples_minimal_dedup` with ``delta`` (old
    representatives → new) as the component map — both sides of the
    incremental pipeline touch only O(affected) rows.
    """
    e = (
        new_edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .where(F.col("u") != F.col("v"))
    )
    endpoints = (
        e.select(F.explode(F.array("u", "v")).alias("node")).distinct()
    )
    # inner join, build side = tiny endpoint set: the big map streams
    touched = assignments.join(F.broadcast(endpoints), "node")
    cu = touched.select(F.col("node").alias("u"), F.col("component").alias("cu"))
    cv = touched.select(F.col("node").alias("v"), F.col("component").alias("cv"))
    comp_edges = (
        e.join(cu, "u", "left")
        .join(cv, "v", "left")
        .select(
            F.coalesce("cu", "u").alias("src"),
            F.coalesce("cv", "v").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )
    delta = connected_components(
        comp_edges, local_threshold=local_threshold
    ).where(F.col("node") != F.col("component"))

    d_map = delta.select(
        F.col("node").alias("component"), F.col("component").alias("__new")
    )
    known = assignments.select("node", "component")
    if changed_only:
        updated = known.join(F.broadcast(d_map), "component").select(
            "node", F.col("__new").alias("component")
        )
    else:
        updated = known.join(F.broadcast(d_map), "component", "left").select(
            "node", F.coalesce("__new", "component").alias("component")
        )
    # brand-new nodes: endpoints with no prior assignment
    fresh = (
        endpoints.join(F.broadcast(touched.select("node")), "node", "left_anti")
        .join(F.broadcast(d_map.withColumnRenamed("component", "node")), "node", "left")
        .select("node", F.coalesce("__new", "node").alias("component"))
    )
    return updated.unionByName(fresh)


def canonicalize_triples_minimal_dedup(
    triples: DataFrame,
    components: DataFrame,
    rewrite_predicates: bool = False,
    broadcast_threshold: int = 8_000_000,
) -> DataFrame:
    """Canonical rewrite with statement-set semantics at O(affected) cost.

    ``canonicalize_triples(...).dropDuplicates(["s","p","o"])`` re-shuffles
    the ENTIRE triple table even when only a handful of entities merged.
    But a duplicate pair can only arise when a rewrite makes two triples
    equal — and a rewritten term always becomes a component
    REPRESENTATIVE. So every triple participating in any duplicate pair
    either (a) was itself rewritten, or (b) already contained a
    representative term. Everything else ("safe") passes through with no
    shuffle; only the affected subset is deduplicated, then the safe
    side is anti-deduplicated against nothing (it cannot collide with
    risky rows post-dedup: a safe row equal to a risky row would itself
    contain a representative term — contradiction). At 10^12 triples
    with incremental merges the dedup shuffle drops from 1× corpus to
    O(merge-affected rows).

    ``components`` may be the full (node, component) map; self-maps are
    dropped internally (they rewrite nothing). Assumes the INPUT already
    has statement-set semantics (true for every table this engine
    materializes — convert and import both dedup); pre-existing input
    duplicates among safe rows would pass through, where the full
    ``dropDuplicates`` variant would also scrub them.

    Every fact the split needs about a term comes from ONE lookup
    relation (:func:`canon_lookup`), joined once per position (s, o, p).
    """
    lookup, hint = canon_lookup(components, broadcast_threshold)
    out = triples
    for pos in ("s", "o", "p"):
        out = out.join(
            hint(
                lookup.select(
                    F.col("node").alias(pos),
                    F.col("canon").alias(f"__{pos}_canon"),
                    F.col("is_rep").alias(f"__{pos}_rep"),
                )
            ),
            pos,
            "left",
        )
    p_col = F.col("p")
    changed = F.col("__s_canon").isNotNull() | (
        (F.col("o_kind") == M.KIND_URI) & F.col("__o_canon").isNotNull()
    )
    if rewrite_predicates:
        p_col = F.coalesce("__p_canon", "p")
        changed = changed | F.col("__p_canon").isNotNull()
    risky_flag = changed
    for pos in ("s", "o", "p"):  # a representative term, in any position
        risky_flag = risky_flag | F.coalesce(f"__{pos}_rep", F.lit(False))
    cols = [c for c in triples.columns if c not in ("s", "o", "p")]
    rewritten = out.select(
        F.coalesce("__s_canon", "s").alias("s"),
        p_col.alias("p"),
        F.when(
            F.col("o_kind") == M.KIND_URI, F.coalesce("__o_canon", "o")
        ).otherwise(F.col("o")).alias("o"),
        *cols,
        risky_flag.alias("__risky"),
    )
    safe = rewritten.where(~F.col("__risky")).drop("__risky")
    risky = (
        rewritten.where(F.col("__risky"))
        .drop("__risky")
        .dropDuplicates(["s", "p", "o"])
    )
    return safe.unionByName(risky).select(*triples.columns)


def canon_lookup(
    components: DataFrame, broadcast_threshold: int = 8_000_000
) -> tuple[DataFrame, object]:
    """The rewrite's lookup relation ``(node, canon, is_rep)`` and the
    join hint to use it with.

    One row per term the rewrite must know about: a merged node carries
    its representative in ``canon``; a representative has ``is_rep``
    true (``canon`` NULL unless it is merged too, as in a non-idempotent
    :func:`merge_components` delta ``{x→y, y→z}``, where ``y`` keeps both
    facts in one row).

    The merge map is usually tiny (O(datasets × fields) property
    aliases, or an incremental wave): when it holds at most
    :data:`LOCAL_THRESHOLD` rows it is collected once — no job when
    ``components`` is itself a LocalRelation — and the lookup is built
    on the driver as a LocalRelation, which Spark broadcasts without a
    job. A FIRST full canonicalization can merge millions of nodes, so
    above the bound the same relation is built distributed, and one
    count() decides: under ``broadcast_threshold`` force the
    broadcast-hash join, above it drop the hint and let AQE pick the
    strategy (an unconditional broadcast would OOM the driver). The
    safe/risky split is join-strategy-independent.
    """
    merged = components.where(F.col("node") != F.col("component"))
    rows = bounded_rows(merged)
    if rows is not None:
        canon = {r["node"]: r["component"] for r in rows}
        reps = set(canon.values())
        data = [(n, canon.get(n), n in reps) for n in sorted(canon.keys() | reps)]
        lookup = local_frame(
            components.sparkSession, data, "node string, canon string, is_rep boolean"
        )
        return lookup, F.broadcast
    reps = (
        merged.select(F.col("component").alias("node"))
        .distinct()
        .withColumn("is_rep", F.lit(True))
    )
    lookup = (
        merged.select("node", F.col("component").alias("canon"))
        .join(reps, "node", "full")
        .select("node", "canon", F.coalesce("is_rep", F.lit(False)).alias("is_rep"))
    )
    hint = F.broadcast if merged.count() <= broadcast_threshold else (lambda d: d)
    return lookup, hint


def canonicalize_triples(
    triples: DataFrame, components: DataFrame, rewrite_predicates: bool = False
) -> DataFrame:
    """Rewrite subject, URI-object (and optionally predicate) through the
    canonical map.

    ``components``: (node, component). Left joins + coalesce; the map is
    usually small relative to triples — Catalyst broadcasts it under the
    threshold, otherwise AQE picks the strategy. ``rewrite_predicates``
    is needed when properties themselves were merged
    (:func:`property_alias_edges`).
    """
    s_map = components.select(
        F.col("node").alias("s"), F.col("component").alias("__s_canon")
    )
    o_map = components.select(
        F.col("node").alias("o"), F.col("component").alias("__o_canon")
    )
    out = triples.join(s_map, "s", "left").join(o_map, "o", "left")
    cols = [c for c in triples.columns if c not in ("s", "o", "p")]
    p_col = F.col("p")
    if rewrite_predicates:
        p_map = components.select(
            F.col("node").alias("p"), F.col("component").alias("__p_canon")
        )
        out = out.join(p_map, "p", "left")
        p_col = F.coalesce("__p_canon", "p")
    return out.select(
        F.coalesce("__s_canon", "s").alias("s"),
        p_col.alias("p"),
        F.when(
            F.col("o_kind") == M.KIND_URI, F.coalesce("__o_canon", "o")
        ).otherwise(F.col("o")).alias("o"),
        *cols,
    ).select(*triples.columns)
