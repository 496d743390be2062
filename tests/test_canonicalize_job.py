"""Phase-2 canonicalization job: property-URI merge via broadcast
anchors + connected components, rewrite, dedup, resume semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from linkedspending_spark import model as M
from linkedspending_spark.jobs import run_canonicalize_job, run_transcripts_job
from linkedspending_spark.transcripts import synth_transcripts_df


def test_canonicalize_merges_property_uris(spark, tmp_path):
    t = synth_transcripts_df(spark, n_convs=8, base_turns=4, seed=7)
    out, man = str(tmp_path / "out"), str(tmp_path / "man")
    r1 = run_transcripts_job(spark, t, out, man, n_buckets=4)
    assert r1.state == "FINISHED"

    canon_out = str(tmp_path / "out_canonical")
    r2 = run_canonicalize_job(spark, out, canon_out, man)
    assert r2.state == "FINISHED" and r2.converted_triples > 0

    canon = spark.read.parquet(canon_out)
    # no per-conversation property URIs survive in predicates or subjects
    local_prop = (
        F.col("p").rlike("^" + M.PREFIX_ONTOLOGY + "conv-.*-(role|text|tool)$")
        | F.col("s").rlike("^" + M.PREFIX_ONTOLOGY + "conv-.*-(role|text|tool)$")
    )
    assert canon.where(local_prop).count() == 0
    # global anchors are present as predicates
    anchors = {
        r["p"]
        for r in canon.select("p")
        .where(F.col("p").startswith(M.PREFIX_ONTOLOGY + "transcripts-"))
        .distinct()
        .collect()
    }
    assert anchors == {
        M.PREFIX_ONTOLOGY + "transcripts-role",
        M.PREFIX_ONTOLOGY + "transcripts-text",
        M.PREFIX_ONTOLOGY + "transcripts-tool",
    }
    # observation data survived the rewrite: same count of role triples
    orig = spark.read.parquet(out)
    n_role_orig = orig.where(
        F.col("p").rlike("-role$") & F.col("s").contains("observation-")
    ).count()
    n_role_canon = canon.where(
        (F.col("p") == M.PREFIX_ONTOLOGY + "transcripts-role")
        & F.col("s").contains("observation-")
    ).count()
    assert n_role_canon == n_role_orig > 0
    # set semantics held (no duplicate statements after merge)
    assert canon.count() == canon.dropDuplicates(["s", "p", "o"]).count()


def test_canonicalize_resume_is_noop(spark, tmp_path):
    t = synth_transcripts_df(spark, n_convs=5, base_turns=3, seed=9)
    out, man = str(tmp_path / "out"), str(tmp_path / "man")
    run_transcripts_job(spark, t, out, man, n_buckets=2)
    canon_out = str(tmp_path / "out_canonical")
    r1 = run_canonicalize_job(spark, out, canon_out, man)
    assert r1.state == "FINISHED" and r1.skipped == 0
    before = {
        (r["s"], r["p"], r["o"]) for r in spark.read.parquet(canon_out).collect()
    }
    r2 = run_canonicalize_job(spark, out, canon_out, man)
    assert r2.state == "FINISHED" and r2.skipped == 1 and r2.converted_triples == 0
    after = {
        (r["s"], r["p"], r["o"]) for r in spark.read.parquet(canon_out).collect()
    }
    assert before == after


def test_canonicalize_reruns_after_new_convert(spark, tmp_path):
    """Freshness: a canonicalize sentinel older than the latest convert
    manifests must NOT suppress the re-run (stale canonical table)."""
    t1 = synth_transcripts_df(spark, n_convs=4, base_turns=3, seed=2)
    out, man = str(tmp_path / "out"), str(tmp_path / "man")
    canon_out = str(tmp_path / "out_canonical")
    run_transcripts_job(spark, t1, out, man, n_buckets=4)
    r1 = run_canonicalize_job(spark, out, canon_out, man)
    assert r1.state == "FINISHED" and r1.skipped == 0
    n1 = spark.read.parquet(canon_out).count()

    # new conversations land (fresh manifest path trickery not needed:
    # different conv ids hash into buckets not yet converted? instead
    # bump the version to force re-conversion of everything)
    t2 = synth_transcripts_df(spark, n_convs=9, base_turns=3, seed=2)
    run_transcripts_job(spark, t2, out, man, n_buckets=4, version=99)
    r2 = run_canonicalize_job(spark, out, canon_out, man, version=99)
    assert r2.state == "FINISHED" and r2.skipped == 0
    assert spark.read.parquet(canon_out).count() > n1
    # and a canonicalize directly after IS skipped
    r3 = run_canonicalize_job(spark, out, canon_out, man, version=99)
    assert r3.skipped == 1


def test_minimal_dedup_equals_full_dedup(spark):
    """canonicalize_triples_minimal_dedup must equal the full-shuffle
    rewrite+dropDuplicates on set-valued input, including when merges
    create real collisions (A→B where (B,p,o) already exists)."""
    from pyspark.sql import functions as F

    from linkedspending_spark.operators.canon import (
        canonicalize_triples,
        canonicalize_triples_minimal_dedup,
    )
    from linkedspending_spark.operators.convert_transcripts import (
        convert_transcripts,
    )
    from linkedspending_spark.transcripts import synth_transcripts_df

    t = synth_transcripts_df(spark, n_convs=6, base_turns=4, seed=23)
    triples = convert_transcripts(spark, t)
    # components: merge every conv's role-property URI into conv-0000's,
    # plus a self-map row (must be a no-op) — guarantees collisions
    from linkedspending_spark import model as M

    props = (
        triples.where(F.col("p").endswith("-role"))
        .select(F.col("p").alias("node"))
        .distinct()
        .withColumn("component", F.lit(M.PREFIX_ONTOLOGY + "conv-0000-role"))
    )
    comp = props.unionByName(
        spark.createDataFrame(
            [("http://x/self", "http://x/self")], "node string, component string"
        )
    )
    full = {
        tuple(r)
        for r in canonicalize_triples(triples, comp, rewrite_predicates=True)
        .dropDuplicates(["s", "p", "o"])
        .select("s", "p", "o")
        .collect()
    }
    minimal = {
        tuple(r)
        for r in canonicalize_triples_minimal_dedup(
            triples, comp, rewrite_predicates=True
        )
        .select("s", "p", "o")
        .collect()
    }
    assert minimal == full
    # and the minimal variant's output row count has no (s,p,o) dup
    out = canonicalize_triples_minimal_dedup(triples, comp, rewrite_predicates=True)
    assert (
        out.groupBy("s", "p", "o").count().where(F.col("count") > 1).count() == 0
    )


def _canon_table(spark, tmp_path, name: str) -> tuple[set, dict]:
    """(canonical table rows, the run's alias-edge / merged-node counts)."""
    from linkedspending_spark.sources.metrics import MetricsStore

    t = synth_transcripts_df(spark, n_convs=8, base_turns=4, seed=7)
    out, man = str(tmp_path / f"{name}_out"), str(tmp_path / f"{name}_man")
    met = str(tmp_path / f"{name}_metrics")
    run_transcripts_job(spark, t, out, man, n_buckets=4)
    canon_out = str(tmp_path / f"{name}_canonical")
    r = run_canonicalize_job(spark, out, canon_out, man, metrics_path=met)
    assert r.state == "FINISHED" and r.converted_triples > 0
    counts = {
        m["key"]: m["value"]
        for m in MetricsStore(spark, met).read()
        .where(F.col("key").isin("alias_edges", "merged_nodes"))
        .collect()
    }
    return {tuple(r) for r in spark.read.parquet(canon_out).collect()}, counts


def test_driver_and_star_paths_agree(spark, tmp_path, monkeypatch):
    """The alias map resolved on the driver (union-find + anchor
    preference, a local lookup) and past the bound (star rounds +
    prefer_representatives, a distributed lookup) write the same
    canonical table, and every representative is an anchor."""
    from linkedspending_spark.operators import canon

    local, local_counts = _canon_table(spark, tmp_path, "local")
    monkeypatch.setattr(canon, "LOCAL_THRESHOLD", 0)
    star, star_counts = _canon_table(spark, tmp_path, "star")
    assert local == star
    # 8 conversations x (role, text, tool): each per-conversation
    # property URI is one alias edge and one merged node
    assert local_counts == star_counts == {"alias_edges": 24, "merged_nodes": 24}
    anchor = M.PREFIX_ONTOLOGY + "transcripts-"
    props = {p for _, p, *_ in local if p.startswith(M.PREFIX_ONTOLOGY)}
    aliased = [p for p in props if p.endswith(("-role", "-text", "-tool"))]
    assert aliased and all(p.startswith(anchor) for p in aliased)


def test_local_components_prefers_anchors(spark):
    """Representative = the min preferred member when the component has
    one, else the min node — prefer_representatives' contract."""
    from linkedspending_spark.operators.canon import (
        connected_components,
        local_components,
        prefer_representatives,
    )

    edges = [("a", "z"), ("b", "z"), ("b", "y"), ("c", "d"), ("e", "e")]
    preferred = {"z", "y"}
    got = dict(map(tuple, local_components(spark, edges, preferred).collect()))
    assert got == {"a": "y", "b": "y", "y": "y", "z": "y", "c": "c", "d": "c"}
    df = spark.createDataFrame(edges, "src string, dst string")
    star = prefer_representatives(
        connected_components(df, local_threshold=0),
        spark.createDataFrame([(u,) for u in preferred], "uri string"),
    )
    assert dict(map(tuple, star.collect())) == got


def _six_join_rewrite(triples, components, rewrite_predicates):
    """The rewrite as formulated before the one-lookup relation: merged
    map joined per position, then three representative-membership joins."""
    merged = components.where(F.col("node") != F.col("component"))
    reps = merged.select(F.col("component").alias("__rep")).distinct()
    out = triples.join(
        merged.select(F.col("node").alias("s"), F.col("component").alias("__s_canon")),
        "s", "left",
    ).join(
        merged.select(F.col("node").alias("o"), F.col("component").alias("__o_canon")),
        "o", "left",
    )
    p_col = F.col("p")
    changed = F.col("__s_canon").isNotNull() | (
        (F.col("o_kind") == M.KIND_URI) & F.col("__o_canon").isNotNull()
    )
    if rewrite_predicates:
        p_map = merged.select(
            F.col("node").alias("p"), F.col("component").alias("__p_canon")
        )
        out = out.join(p_map, "p", "left")
        p_col = F.coalesce("__p_canon", "p")
        changed = changed | F.col("__p_canon").isNotNull()
    for pos in ("s", "o", "p"):
        out = (
            out.join(reps, out[pos] == reps["__rep"], "left")
            .withColumn(f"__{pos}_is_rep", F.col("__rep").isNotNull())
            .drop("__rep")
        )
    risky = changed | F.col("__s_is_rep") | F.col("__o_is_rep") | F.col("__p_is_rep")
    cols = [c for c in triples.columns if c not in ("s", "o", "p")]
    rewritten = out.select(
        F.coalesce("__s_canon", "s").alias("s"),
        p_col.alias("p"),
        F.when(F.col("o_kind") == M.KIND_URI, F.coalesce("__o_canon", "o"))
        .otherwise(F.col("o")).alias("o"),
        *cols,
        risky.alias("__risky"),
    )
    safe = rewritten.where(~F.col("__risky")).drop("__risky")
    dirty = (
        rewritten.where(F.col("__risky"))
        .drop("__risky")
        .dropDuplicates(["s", "p", "o"])
    )
    return safe.unionByName(dirty).select(*triples.columns)


def test_lookup_paths_match_six_join_rewrite(spark, monkeypatch):
    """A non-idempotent map {x→y, y→z} (y is merged AND a
    representative): the local lookup, the distributed lookup and the
    six-join formulation give the same rows, in both predicate modes."""
    from linkedspending_spark.operators import canon

    x, y, z, w = (f"http://x/{n}" for n in "xyzw")
    rows = [
        (x, "http://x/p", y, "uri"), (y, "http://x/p", y, "uri"),
        (y, "http://x/p", z, "uri"), (z, "http://x/p", z, "uri"),
        (w, x, y, "uri"), (w, y, "lit", "literal"), (w, "http://x/p", x, "literal"),
        (z, y, w, "uri"), (x, z, x, "uri"),
    ]
    triples = spark.createDataFrame(rows, "s string, p string, o string, o_kind string")
    comp = spark.createDataFrame(
        [(x, y), (y, z), (w, w)], "node string, component string"
    )

    def rows_of(df):
        out = [tuple(r) for r in df.collect()]
        assert len(out) == len(set(out))
        return sorted(out)

    for rewrite_predicates in (False, True):
        want = rows_of(_six_join_rewrite(triples, comp, rewrite_predicates))
        local = rows_of(canon.canonicalize_triples_minimal_dedup(
            triples, comp, rewrite_predicates=rewrite_predicates))
        with monkeypatch.context() as m:
            m.setattr(canon, "LOCAL_THRESHOLD", 0)
            lookup, _ = canon.canon_lookup(comp)
            plan = lookup._jdf.queryExecution().optimizedPlan()  # noqa: SLF001
            assert "LocalRelation" not in plan.toString()
            distributed = rows_of(canon.canonicalize_triples_minimal_dedup(
                triples, comp, rewrite_predicates=rewrite_predicates))
        assert local == distributed == want
    lookup = {
        r["node"]: (r["canon"], r["is_rep"])
        for r in canon.canon_lookup(comp)[0].collect()
    }
    assert lookup == {x: (y, False), y: (z, True), z: (None, True)}


def test_delete_makes_canonical_table_stale(spark, tmp_path):
    """A bucketed delete tombstones its datasets in the manifest; the
    next canonicalize must re-run (tombstones count in the freshness
    watermark) and replace the whole canonical table, so the deleted
    datasets are gone from it — including a bucket the delete emptied,
    which has no row in the rewrite to overwrite its old partition."""
    from linkedspending_spark.sources.io import delete_datasets_bucketed

    t = synth_transcripts_df(spark, n_convs=24, base_turns=3, seed=5)
    out, man = str(tmp_path / "out"), str(tmp_path / "man")
    canon_out = str(tmp_path / "out_canonical")
    run_transcripts_job(spark, t, out, man, n_buckets=8)
    assert run_canonicalize_job(spark, out, canon_out, man).skipped == 0

    by_bucket: dict[int, set] = {}
    for r in spark.read.parquet(out).select("bucket", "dataset").distinct().collect():
        by_bucket.setdefault(r["bucket"], set()).add(r["dataset"])
    emptied = min(by_bucket, key=lambda b: (len(by_bucket[b]), b))
    other = min(min(v) for b, v in by_bucket.items() if b != emptied)
    victims = sorted(by_bucket[emptied] | {other})
    delete_datasets_bucketed(spark, out, victims, n_buckets=8, manifest_path=man)

    r = run_canonicalize_job(spark, out, canon_out, man)
    assert r.state == "FINISHED" and r.skipped == 0
    canon = spark.read.parquet(canon_out)
    assert canon.where(F.col("dataset").isin(victims)).count() == 0
    assert canon.where(F.col("bucket") == emptied).count() == 0
    assert canon.count() == r.converted_triples > 0
    # and the rewrite is now current: the next run skips
    assert run_canonicalize_job(spark, out, canon_out, man).skipped == 1


def _parquet_files(path: str) -> list[str]:
    import os

    return sorted(
        os.path.join(d, n)
        for d, _, names in os.walk(path)
        for n in names
        if n.endswith(".parquet")
    )


def _bucket_dirs(path: str) -> list[str]:
    import os

    return [d for d in os.listdir(path) if d.startswith("bucket=")]


def test_canonical_table_is_one_bucket_clustered_file(spark, tmp_path):
    """At test size the canonical table is one unpartitioned file whose
    ``bucket`` column is the job runner's bucket of each row's dataset."""
    from linkedspending_spark.jobs import bucket_of

    t = synth_transcripts_df(spark, n_convs=12, base_turns=3, seed=13)
    out, man = str(tmp_path / "out"), str(tmp_path / "man")
    canon_out = str(tmp_path / "out_canonical")
    run_transcripts_job(spark, t, out, man, n_buckets=8)
    r = run_canonicalize_job(spark, out, canon_out, man)
    assert r.state == "FINISHED" and r.converted_triples > 0

    assert len(_parquet_files(canon_out)) == 1
    assert _bucket_dirs(canon_out) == []
    canon = spark.read.parquet(canon_out)
    assert canon.count() == r.converted_triples
    assert canon.where(F.col("bucket") != bucket_of(F.col("dataset"), 8)).count() == 0
    assert canon.select("bucket").distinct().count() > 1


def test_canonical_files_are_sized_by_split_bytes(spark, tmp_path):
    """A split size below the landed table's bytes writes several files:
    the same rows as the one-file layout, the count the job reports, and
    disjoint, ordered ``(bucket, s)`` key ranges (so bucket ranges meet
    at most at one boundary bucket)."""
    import shutil

    t = synth_transcripts_df(spark, n_convs=12, base_turns=3, seed=13)
    out, man = str(tmp_path / "out"), str(tmp_path / "man")
    run_transcripts_job(spark, t, out, man, n_buckets=8)
    shutil.copytree(man, str(tmp_path / "man2"))  # a second, fresh watermark

    one = str(tmp_path / "one")
    run_canonicalize_job(spark, out, one, man)
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    spark.conf.set(key, "16k")
    try:
        many = str(tmp_path / "many")
        r = run_canonicalize_job(spark, out, many, str(tmp_path / "man2"))
    finally:
        spark.conf.set(key, saved)

    files = _parquet_files(many)
    assert len(files) > 1 and _bucket_dirs(many) == []
    rows = {tuple(x) for x in spark.read.parquet(many).collect()}
    assert rows == {tuple(x) for x in spark.read.parquet(one).collect()}
    assert r.converted_triples == len(rows)
    ranges = []
    for f in files:
        df = spark.read.parquet(f)
        lo = df.orderBy("bucket", "s").first()
        hi = df.orderBy(F.col("bucket").desc(), F.col("s").desc()).first()
        ranges.append(((lo["bucket"], lo["s"]), (hi["bucket"], hi["s"])))
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo, ranges
        assert hi[0] <= lo[0]


def test_canonicalize_replaces_bucket_partitioned_layout(spark, tmp_path):
    """A canonical directory written in the old one-directory-per-bucket
    layout is replaced whole: no ``bucket=`` directory survives."""
    from linkedspending_spark.sources.io import write_triples

    t = synth_transcripts_df(spark, n_convs=6, base_turns=3, seed=17)
    out, man = str(tmp_path / "out"), str(tmp_path / "man")
    canon_out = str(tmp_path / "out_canonical")
    run_transcripts_job(spark, t, out, man, n_buckets=4)
    write_triples(spark.read.parquet(out), canon_out, partition_col="bucket")
    assert _bucket_dirs(canon_out)

    r = run_canonicalize_job(spark, out, canon_out, man)
    assert r.state == "FINISHED" and r.skipped == 0
    assert _bucket_dirs(canon_out) == []
    assert len(_parquet_files(canon_out)) == 1
    assert spark.read.parquet(canon_out).count() == r.converted_triples
