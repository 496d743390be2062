"""Query-serving surface: triple-pattern match (Sparql.java:26-53 analog),
partition pruning on the landed bucketed table, pushed bucket filters on
the canonical table, full-size dictionaries, and the
LIMES accept/review link tiers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from linkedspending_spark import model as M
from linkedspending_spark.jobs import bucket_of
from linkedspending_spark.operators.convert_transcripts import convert_transcripts
from linkedspending_spark.serve import match
from linkedspending_spark.sources.io import write_triples
from linkedspending_spark.transcripts import synth_transcripts_df
from tools.plan_audit import plan_of


@pytest.fixture(scope="module")
def triple_table(spark, tmp_path_factory):
    """Bucket-partitioned triple table, written the way jobs.py lands it."""
    out = str(tmp_path_factory.mktemp("serve") / "triples")
    t = synth_transcripts_df(spark, n_convs=8, base_turns=5)
    triples = convert_transcripts(spark, t).withColumn(
        "bucket", bucket_of(F.col("dataset"), 8)
    )
    write_triples(triples, out, partition_col="bucket")
    return out


def test_match_binds_each_term(spark, triple_table):
    triples = spark.read.parquet(triple_table)
    # p bound: only rdf:type rows
    typed = match(triples, p=M.RDF_TYPE)
    assert typed.select("p").distinct().collect() == [(M.RDF_TYPE,)]
    # (p, o) bound: observation typing only
    obs = match(triples, p=M.RDF_TYPE, o=M.QB_OBSERVATION)
    assert obs.count() > 0
    assert obs.where(F.col("o") != M.QB_OBSERVATION).count() == 0
    # s bound to one subject: every predicate of that subject
    any_s = triples.select("s").first()["s"]
    per_s = match(triples, s=any_s)
    assert per_s.count() == triples.where(F.col("s") == any_s).count()
    # list binding -> IN
    two_p = match(triples, p=[M.RDF_TYPE, M.RDFS_LABEL])
    assert set(r["p"] for r in two_p.select("p").distinct().collect()) == {
        M.RDF_TYPE,
        M.RDFS_LABEL,
    }


def test_match_dataset_prunes_partitions(spark, triple_table):
    triples = spark.read.parquet(triple_table)
    q = match(triples, dataset="conv-0003", n_buckets=8)
    # correctness: identical to the unpruned dataset filter
    expected = triples.where(F.col("dataset") == "conv-0003").count()
    assert q.count() == expected > 0
    # plan: the bucket predicate must reach PartitionFilters (only
    # 1/n_buckets of the table is scanned)
    plan = plan_of(q)
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part_lines and any("bucket" in l for l in part_lines), plan[:3000]


def test_match_reads_n_buckets_from_manifest(spark, triple_table, tmp_path):
    """The writer's bucket count is authoritative: a manifest-aware call
    prunes with the recorded modulus, and a caller-supplied value that
    disagrees raises instead of silently pruning the wrong partition."""
    from linkedspending_spark.jobs import BUCKETS_SENTINEL
    from linkedspending_spark.serve import manifest_n_buckets
    from linkedspending_spark.sources.manifest import ManifestStore

    mpath = str(tmp_path / "manifests")
    store = ManifestStore(spark, mpath)
    store.record(BUCKETS_SENTINEL, 8, None, run_id="t")
    assert manifest_n_buckets(spark, mpath) == 8

    triples = spark.read.parquet(triple_table)
    expected = triples.where(F.col("dataset") == "conv-0003").count()
    # no n_buckets passed: resolved from the manifest, still prunes
    q = match(triples, dataset="conv-0003", manifest_path=mpath)
    assert q.count() == expected > 0
    plan = plan_of(q)
    assert any(
        "bucket" in l for l in plan.splitlines() if "PartitionFilters" in l
    ), plan[:3000]
    # wrong caller value vs manifest: loud failure, not empty results
    with pytest.raises(ValueError, match="written with"):
        match(triples, dataset="conv-0003", n_buckets=16, manifest_path=mpath)


def test_match_dataset_on_canonical_table_pushes_bucket_filter(spark, tmp_path):
    """The canonical table keeps ``bucket`` as a clustered column, not a
    partition: a dataset-scoped match returns exactly that dataset's
    rows, and its bucket predicate is a pushed parquet filter (row-group
    skipping) instead of a partition filter."""
    from linkedspending_spark.jobs import run_canonicalize_job, run_transcripts_job

    t = synth_transcripts_df(spark, n_convs=8, base_turns=3, seed=19)
    out, man = str(tmp_path / "out"), str(tmp_path / "man")
    run_transcripts_job(spark, t, out, man, n_buckets=8)
    run_canonicalize_job(spark, out, str(tmp_path / "canon"), man)

    canon = spark.read.parquet(str(tmp_path / "canon"))
    q = match(canon, dataset="conv-0003", manifest_path=man)
    want = canon.where(F.col("dataset") == "conv-0003")
    assert sorted(q.collect()) == sorted(want.collect())
    assert q.count() > 0
    plan = plan_of(q)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and any("bucket" in l for l in pushed), plan[:3000]
    parts = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert not any("bucket" in l for l in parts), plan[:3000]


def test_full_dictionaries_load_and_link(spark):
    from linkedspending_spark.sources.dictionaries import (
        full_country_df,
        full_country_pairs,
        full_currency_df,
        full_currency_pairs,
    )

    cur, ctry = full_currency_pairs(), full_country_pairs()
    # reference ships 216 currency rows / ~212 countries; ours are
    # regenerated from public ISO lists at comparable size (active +
    # withdrawn historical codes)
    assert len(cur) >= 215 and len(ctry) >= 200
    # CodeToCurrencyTest.java:11-28 analog: JPY resolves to the yen URI
    jpy = (
        full_currency_df(spark).where(F.col("code") == "JPY").collect()
    )
    assert jpy and jpy[0]["uri"].endswith("/Japanese_yen")
    # deprecated-code analog: historical DEM resolves (old data links)
    dem = full_currency_df(spark).where(F.col("code") == "DEM").collect()
    assert dem and dem[0]["uri"].endswith("/Deutsche_Mark")
    gb = full_country_df(spark).where(F.col("code") == "gb").collect()
    assert gb and gb[0]["uri"].endswith("/United_Kingdom")
    # reject-on-miss (ConvertWorker.java:205-223): unknown code drops out
    probe = spark.createDataFrame([("JPY",), ("XXX",), ("ZZZ",)], "code string")
    hits = probe.join(F.broadcast(full_currency_df(spark)), "code").collect()
    assert [r["code"] for r in hits] == ["JPY"]


def test_link_tiers_accept_and_review(spark):
    from linkedspending_spark.operators.linking import trigram_similarity_join

    left = spark.createDataFrame(
        [(1, "switzerland"), (2, "france"), (3, "qqqq")], "lk int, lname string"
    )
    right = spark.createDataFrame(
        [(10, "switzerland"), (11, "francia"), (12, "brazil")],
        "rk int, rname string",
    )
    out = trigram_similarity_join(
        left, right, "lk", "lname", "rk", "rname",
        threshold=0.8, review_threshold=0.3,
    ).collect()
    tiers = {(r["lk"], r["rk"]): r["tier"] for r in out}
    assert tiers[(1, 10)] == "accept"  # exact name: sim 1.0
    assert tiers[(2, 11)] == "review"  # france~francia: sim 0.5 mid band
    assert (3, 12) not in tiers  # dissimilar: below review threshold


def test_convert_with_full_dictionaries_recall(spark):
    """convert_transcripts(currencies=..., countries=...) runs the
    pipeline against the full ISO tables; every planted mention is
    recovered (recall 1.0 for dictionary-covered codes) and code
    aliasing (BYN/BYR → one URI) cannot duplicate triples."""
    from linkedspending_spark.operators.convert_transcripts import (
        convert_transcripts,
    )
    from linkedspending_spark.sources.dictionaries import (
        full_country_df,
        full_currency_df,
    )
    from linkedspending_spark.transcripts import synth_transcripts_df
    from linkedspending_spark.uris import observation_uri_str

    t = synth_transcripts_df(spark, n_convs=8, base_turns=5, seed=17)
    out = convert_transcripts(
        spark,
        t,
        currencies=full_currency_df(spark),
        countries=full_country_df(spark),
    )
    got = {
        (r["s"], r["o"]) for r in out.collect() if r["p"] == M.DBO_CURRENCY
    }
    # planted: every turn text carries "paid <amt> <CUR> in <ctry>"
    import re

    cur_dict = {
        r["code"]: r["uri"] for r in full_currency_df(spark).collect()
    }
    want = set()
    for row in t.collect():
        m = re.search(r"paid \d+ ([A-Z]{3}) in", row["text"])
        if m and m.group(1) in cur_dict:
            want.add(
                (
                    observation_uri_str(row["conv_id"], str(row["turn_idx"])),
                    cur_dict[m.group(1)],
                )
            )
    assert want and want <= got  # recall 1.0 on planted currency mentions
    # alias safety: no (s,p,o) multiplicity even with aliased codes
    from pyspark.sql import functions as FF

    dup = out.groupBy("s", "p", "o").count().where(FF.col("count") > 1).count()
    assert dup == 0


def test_select_bgp_reference_catalog_query(spark, triple_table):
    """Sparql.java:40-53 analog: '?d a qb:DataSet . ?d rdfs:label ?l .
    ?d lso:refYear ?y' — 3-pattern join on ?d, 1:N on years."""
    from linkedspending_spark.serve import select_bgp

    triples = spark.read.parquet(triple_table)
    out = select_bgp(
        triples,
        [
            ("?d", M.RDF_TYPE, M.QB_DATASET),
            ("?d", M.RDFS_LABEL, "?label"),
            ("?d", M.LSO_REF_YEAR, "?year"),
        ],
    )
    assert out.columns == ["d", "label", "year"]
    rows = out.collect()
    # every dataset appears with its conv_id label; join on ?d must have
    # dropped the property-node rdfs:label rows (labels == conv_ids)
    labels = {r["label"] for r in rows}
    datasets = {
        r["dataset"]
        for r in triples.select("dataset").distinct().collect()
    }
    assert labels == datasets
    # 1:N: row count equals the number of (dataset, refYear) pairs
    expected = triples.where(F.col("p") == M.LSO_REF_YEAR).count()
    assert len(rows) == expected > 0


def test_select_bgp_term_shapes(spark, triple_table):
    from linkedspending_spark.serve import select_bgp

    triples = spark.read.parquet(triple_table)
    # repeated variable in one pattern: positions must agree (s == o
    # never holds for typing triples -> empty, not an error)
    same = select_bgp(triples, [("?x", M.RDF_TYPE, "?x")])
    assert same.columns == ["x"] and same.count() == 0
    # all-constant pattern acts as an existence gate: true -> no effect
    n_datasets = select_bgp(
        triples, [("?d", M.RDF_TYPE, M.QB_DATASET)]
    ).count()
    any_obs = triples.where(
        (F.col("p") == M.RDF_TYPE) & (F.col("o") == M.QB_OBSERVATION)
    ).first()
    gated = select_bgp(
        triples,
        [
            ("?d", M.RDF_TYPE, M.QB_DATASET),
            (any_obs["s"], M.RDF_TYPE, M.QB_OBSERVATION),  # exists: true
        ],
    )
    assert gated.count() == n_datasets
    empty_gate = select_bgp(
        triples,
        [
            ("?d", M.RDF_TYPE, M.QB_DATASET),
            ("urn:no-such-subject", M.RDF_TYPE, M.QB_OBSERVATION),
        ],
    )
    assert empty_gate.count() == 0
    # disconnected patterns: deliberate cross product
    cross = select_bgp(
        triples,
        [("?d", M.RDF_TYPE, M.QB_DATASET), ("?o", M.RDF_TYPE, M.QB_OBSERVATION)],
    )
    n_obs = triples.where(
        (F.col("p") == M.RDF_TYPE) & (F.col("o") == M.QB_OBSERVATION)
    ).count()
    assert cross.count() == n_datasets * n_obs
    with pytest.raises(ValueError):
        select_bgp(triples, [])


def test_select_bgp_pushdown_plan(spark, triple_table):
    """Each pattern's constants reach the parquet scan as PushedFilters."""
    from linkedspending_spark.serve import select_bgp

    triples = spark.read.parquet(triple_table)
    q = select_bgp(
        triples,
        [("?d", M.RDF_TYPE, M.QB_DATASET), ("?d", M.RDFS_LABEL, "?label")],
    )
    plan = plan_of(q)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    # the rdf:type constant must reach a scan as a concrete pushed predicate
    assert any(
        "EqualTo(p," in l or M.RDF_TYPE.split("#")[-1] in l for l in pushed
    ), plan[:3000]
    assert any(M.RDFS_LABEL.split("#")[-1][:5] in l for l in pushed) or len(
        pushed
    ) >= 2, plan[:3000]


def test_select_bgp_stats_orders_selective_pattern_first(spark, tmp_path):
    """Round-3 VERDICT item 8: with bgp_stats, the estimated-cheapest
    pattern must LEAD the join tree on a skewed fixture even when the
    constant-count heuristic ties — at 100× that is the difference
    between broadcasting a 3-row scan and shuffling a corpus-sized one."""
    from linkedspending_spark.serve import _join_order, bgp_stats, select_bgp

    common, rare = "http://x/commonpred", "http://x/rarepred"
    rows = [(f"http://s/{i}", common, f"v{i % 50}", "d") for i in range(5000)]
    rows += [(f"http://s/{i}", rare, f"r{i}", "d") for i in range(3)]
    path = str(tmp_path / "skewed")
    spark.createDataFrame(rows, "s string, p string, o string, dataset string") \
        .write.parquet(path)
    triples = spark.read.parquet(path)

    stats = bgp_stats(triples)
    assert stats["p_counts"][common]["count"] == 5000
    assert stats["p_counts"][rare]["count"] == 3
    assert stats["total"] == 5003

    # ordering unit: cheapest leads, then connected-cheapest
    assert _join_order([(frozenset("xv"), 5000.0), (frozenset("xr"), 3.0)]) \
        == [1, 0]

    patterns = [("?x", common, "?v"), ("?x", rare, "?r")]
    q = select_bgp(triples, patterns, stats=stats)
    plan = plan_of(q)
    assert plan.index("rarepred") < plan.index("commonpred"), plan[:3000]
    # fallback (no stats) keeps input order here — common leads
    plan_nostats = plan_of(select_bgp(triples, patterns))
    assert plan_nostats.index("commonpred") < plan_nostats.index("rarepred")
    # same solutions either way (bag semantics)
    a = sorted(map(tuple, q.collect()))
    b = sorted(map(tuple, select_bgp(triples, patterns).collect()))
    assert a == b and len(a) == 3


def test_select_bgp_matches_naive_evaluator(spark):
    """Randomized equivalence: select_bgp over a tiny random graph must
    produce exactly the bag of solution mappings a naive nested-loop
    SPARQL BGP evaluator produces (bag semantics: no implicit dedup)."""
    import random

    from linkedspending_spark.serve import select_bgp

    def naive(triples, patterns, var_order):
        sols = [dict()]
        for pat in patterns:
            nxt = []
            for b in sols:
                for row in triples:
                    bb, ok = dict(b), True
                    for term, val in zip(pat, row):
                        if term.startswith("?"):
                            v = term[1:]
                            if bb.get(v, val) != val:
                                ok = False
                                break
                            bb[v] = val
                        elif term != val:
                            ok = False
                            break
                    if ok:
                        nxt.append(bb)
            sols = nxt
        return sorted(tuple(b[v] for v in var_order) for b in sols)

    rng = random.Random(47)
    for trial in range(5):
        triples = sorted(
            {
                (
                    f"s{rng.randrange(4)}",
                    f"p{rng.randrange(2)}",
                    f"o{rng.randrange(4)}",
                )
                for _ in range(rng.randrange(8, 20))
            }
        )
        df = spark.createDataFrame(triples, "s string, p string, o string")
        n_pat = rng.randrange(2, 4)
        patterns, var_order = [], []
        pool = ["?x", "?y", "?z"]
        for _ in range(n_pat):
            pat = tuple(
                rng.choice(
                    [rng.choice(pool), f"s{rng.randrange(4)}"]
                    if pos == 0
                    else [rng.choice(pool), f"p{rng.randrange(2)}"]
                    if pos == 1
                    else [rng.choice(pool), f"o{rng.randrange(4)}"]
                )
                for pos in range(3)
            )
            patterns.append(pat)
        # need at least one variable overall for a non-degenerate select
        if not any(t.startswith("?") for pat in patterns for t in pat):
            patterns[0] = ("?x",) + patterns[0][1:]
        for pat in patterns:
            for t in pat:
                if t.startswith("?") and t[1:] not in var_order:
                    var_order.append(t[1:])
        got = sorted(
            tuple(r[v] for v in var_order)
            for r in select_bgp(df, patterns).collect()
        )
        want = naive(triples, patterns, var_order)
        assert got == want, (trial, patterns, got, want)


def test_select_bgp_dataset_binding_prunes_every_pattern_scan(spark, triple_table):
    """A bound dataset flows into EVERY pattern's match() scan: each scan
    carries the bucket PartitionFilter, and results equal the unpruned
    dataset-filtered join."""
    from linkedspending_spark.serve import select_bgp

    triples = spark.read.parquet(triple_table)
    patterns = [("?d", M.RDF_TYPE, M.QB_DATASET), ("?d", M.RDFS_LABEL, "?label")]
    q = select_bgp(triples, patterns, dataset="conv-0003", n_buckets=8)
    rows = q.collect()
    assert len(rows) == 1 and rows[0]["label"] == "conv-0003"
    plan = plan_of(q)
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert sum("bucket" in l for l in part_lines) >= 2, plan[:3000]


def test_select_sparql_optional_filter(spark):
    """OPTIONAL + FILTER + DISTINCT/LIMIT algebra (round-3 VERDICT
    'missing' 4): left-join NULL-extension, earliest-bound filter
    placement, and SPARQL's unbound-comparison-is-false via SQL NULL."""
    from linkedspending_spark.sparql import select_text

    rows = [
        ("d1", "a", "DataSet", "x"), ("d2", "a", "DataSet", "x"),
        ("d3", "a", "DataSet", "x"),
        ("d1", "label", "alpha", "x"), ("d2", "label", "beta", "x"),
        ("d3", "label", "gamma", "x"),
        ("d1", "year", "2020", "x"), ("d1", "year", "2022", "x"),
        ("d2", "year", "2021", "x"),  # d3 has no year
    ]
    t = spark.createDataFrame(rows, "s string, p string, o string, dataset string")
    base = "?d <a> <DataSet> . ?d <label> ?l"

    # OPTIONAL extends with NULL where the group found no match
    q = select_text(t, f"SELECT * {{ {base} OPTIONAL {{ ?d <year> ?y }} }}")
    got = sorted(map(tuple, q.collect()))
    assert got == [
        ("d1", "alpha", "2020"), ("d1", "alpha", "2022"),
        ("d2", "beta", "2021"), ("d3", "gamma", None),
    ]

    # FILTER over an optional var: NULL (unbound) rows are dropped,
    # matching SPARQL's type-error-is-false
    q = select_text(
        t,
        f"SELECT * {{ {base} OPTIONAL {{ ?d <year> ?y }} "
        "FILTER(?y >= '2021') }",
    )
    assert sorted(map(tuple, q.collect())) == [
        ("d1", "alpha", "2022"), ("d2", "beta", "2021"),
    ]

    # FILTER over a required var lands before the optional join and is
    # pushed into the scan (PushedFilters carries the comparison)
    q = select_text(
        t,
        f"SELECT * {{ {base} FILTER(?l != 'beta') "
        "OPTIONAL { ?d <year> ?y } }",
    )
    assert sorted(r["l"] for r in q.select("l").distinct().collect()) == [
        "alpha", "gamma",
    ]

    # DISTINCT + LIMIT
    q = select_text(t, "SELECT DISTINCT * { ?d <year> ?y }")
    assert q.count() == 3
    assert select_text(t, f"SELECT * {{ {base} }} LIMIT 2").count() == 2

    # filter naming a variable no group binds raises
    with pytest.raises(ValueError):
        select_text(t, f"SELECT * {{ {base} FILTER(?nope > 1) }}").collect()


def test_select_sparql_matches_naive_evaluator(spark):
    """Randomized OPTIONAL equivalence: ``main OPTIONAL { opt }`` must
    equal naive left-extension semantics (each main solution keeps
    every compatible optional extension, or survives unextended)."""
    import random

    from linkedspending_spark.sparql import select_text

    rng = random.Random(77)
    subjects = [f"s{i}" for i in range(6)]
    triples = [
        (rng.choice(subjects), p, f"v{rng.randint(0, 3)}", "x")
        for p in ("p1", "p2", "p3")
        for _ in range(12)
    ]
    t = spark.createDataFrame(
        triples, "s string, p string, o string, dataset string"
    ).dropDuplicates()
    rows = [tuple(r) for r in t.collect()]

    main = [("?a", "p1", "?v")]
    opt = [("?a", "p2", "?w"), ("?a", "p3", "?u")]

    def solutions(pats, binding):
        sols = [binding]
        for pat in pats:
            nxt = []
            for b in sols:
                for s, p, o, _ in rows:
                    bb, ok = dict(b), True
                    for term, val in zip(pat, (s, p, o)):
                        if term.startswith("?"):
                            v = term[1:]
                            if v in bb and bb[v] != val:
                                ok = False
                            else:
                                bb[v] = val
                        elif term != val:
                            ok = False
                    if ok:
                        nxt.append(bb)
            sols = nxt
        return sols

    expected = []
    for b in solutions(main, {}):
        exts = solutions(opt, dict(b))
        if exts:
            expected += [
                (e["a"], e["v"], e["w"], e["u"]) for e in exts
            ]
        else:
            expected.append((b["a"], b["v"], None, None))
    def text(pats):
        return " . ".join(
            " ".join(x if x.startswith("?") else f"<{x}>" for x in pat)
            for pat in pats
        )

    got = sorted(
        map(
            tuple,
            select_text(
                t, f"SELECT * {{ {text(main)} OPTIONAL {{ {text(opt)} }} }}"
            ).collect(),
        )
    )
    assert got == sorted(expected) and len(got) > 0


def test_select_sparql_union_order_by(spark):
    """UNION + ORDER BY algebra: branch solutions union by variable
    name (NULL-extending branch-specific variables), join the solution
    so far on shared variables, and ORDER BY/LIMIT plan as a top-k."""
    from linkedspending_spark.sparql import SparqlSyntaxError, select_text

    rows = [
        ("d1", "a", "DataSet", "x"), ("d2", "a", "DataSet", "x"),
        ("d3", "a", "DataSet", "x"),
        ("d1", "created", "2020", "x"), ("d2", "modified", "2021", "x"),
        ("d3", "created", "2019", "x"),
        ("d1", "label", "alpha", "x"),
    ]
    t = spark.createDataFrame(
        rows, "s string, p string, o string, dataset string"
    )
    base = "?d <a> <DataSet>"

    # {?d created ?when} UNION {?d modified ?when}: same variable bound
    # by both branches
    u_when = "{ ?d <created> ?when } UNION { ?d <modified> ?when }"
    q = select_text(t, f"SELECT * {{ {base} {u_when} }}")
    assert sorted(map(tuple, q.collect())) == [
        ("d1", "2020"), ("d2", "2021"), ("d3", "2019"),
    ]

    # branch-specific variables come back NULL (SPARQL unbound) on the
    # other branch's solutions
    q = select_text(
        t,
        f"SELECT * {{ {base} "
        "{ ?d <created> ?c } UNION { ?d <modified> ?m } }",
    )
    assert sorted(map(tuple, q.collect()), key=str) == [
        ("d1", "2020", None), ("d2", None, "2021"), ("d3", "2019", None),
    ]

    # FILTER over a union-bound variable applies after the union join
    q = select_text(t, f"SELECT * {{ {base} {u_when} FILTER(?when >= '2020') }}")
    assert sorted(map(tuple, q.collect())) == [("d1", "2020"), ("d2", "2021")]

    # a query that is JUST a union, ordered descending
    q = select_text(t, f"SELECT * {{ {u_when} }} ORDER BY DESC(?when)")
    assert [tuple(r) for r in q.collect()] == [
        ("d2", "2021"), ("d1", "2020"), ("d3", "2019"),
    ]

    # ORDER BY + LIMIT plans as a top-k, not a global sort
    q = select_text(t, f"SELECT * {{ {base} {u_when} }} ORDER BY ?when LIMIT 2")
    assert [r["when"] for r in q.collect()] == ["2019", "2020"]
    assert "TakeOrderedAndProject" in plan_of(q)

    # a shared variable some branch leaves unbound would need SPARQL's
    # NULL-compatible join -> refused, not silently wrong
    with pytest.raises(ValueError, match="unbound"):
        select_text(
            t,
            f"SELECT * {{ {base} "
            "{ ?d <created> ?w } UNION { <d2> <modified> ?w } }",
        )

    # degenerate forms raise
    with pytest.raises(SparqlSyntaxError, match="UNION"):
        select_text(t, f"SELECT * {{ {base} {{ ?d <created> ?w }} }}")
    with pytest.raises(ValueError, match="unbound"):
        select_text(t, f"SELECT * {{ {base} }} ORDER BY ?nope")
    with pytest.raises(ValueError, match="needs patterns"):
        select_text(t, "SELECT * { }")