"""HTTP serving layer (Rest.java analog): JSON endpoints over one
SparkSession, bounded collects, TTL-cached dataset listing."""

from __future__ import annotations

import json
import threading
import urllib.request

import pytest
from pyspark.sql import functions as F

from linkedspending_spark import model as M
from linkedspending_spark.operators.convert_transcripts import convert_transcripts
from linkedspending_spark.rest import RestService, make_server
from linkedspending_spark.transcripts import synth_transcripts_df


@pytest.fixture(scope="module")
def rest_server(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("rest")
    t = synth_transcripts_df(spark, n_convs=6, base_turns=5)
    triples = convert_transcripts(spark, t)
    triples.write.parquet(str(base / "triples"))

    from linkedspending_spark.sources.manifest import ManifestStore

    mpath = str(base / "manifests")
    store = ManifestStore(spark, mpath)
    store.record_many(
        [("conv-0", 5, 120), ("conv-1", 5, 118)], run_id="run-a"
    )
    store.record("conv-2", 5, 121, run_id="run-b")

    service = RestService(
        spark,
        triples=spark.read.parquet(str(base / "triples")),
        manifest_path=mpath,
        max_rows=500,
    )
    server = make_server(service)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    port = server.server_address[1]
    yield f"http://127.0.0.1:{port}", service
    server.shutdown()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=60) as r:
        return r.status, json.loads(r.read())


def _post(url: str, payload: dict):
    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=60) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_index_and_health(rest_server):
    base, _ = rest_server
    status, idx = _get(base + "/")
    assert status == 200 and idx["datasets"] == "/datasets"
    assert _get(base + "/health") == (200, {"ok": True})
    with pytest.raises(urllib.error.HTTPError):
        urllib.request.urlopen(base + "/nope", timeout=60)


def test_datasets_listing_and_ttl_cache(rest_server, spark):
    base, service = rest_server
    status, ds = _get(base + "/datasets")
    assert status == 200
    by_name = {d["dataset"]: d for d in ds}
    assert by_name["conv-0"]["n_triples"] == 120
    assert by_name["conv-2"]["n_commits"] == 1
    # TTL cache (Rest.java datasets cache analog): a new commit is
    # invisible until the cache expires
    from linkedspending_spark.sources.manifest import ManifestStore

    ManifestStore(spark, service.manifest_path).record(
        "conv-9", 5, 99, run_id="run-c"
    )
    _, cached = _get(base + "/datasets")
    assert "conv-9" not in {d["dataset"] for d in cached}
    service._datasets_cache = None  # expire
    _, fresh = _get(base + "/datasets")
    assert "conv-9" in {d["dataset"] for d in fresh}


def test_jobs_listing(rest_server):
    base, _ = rest_server
    status, jobs = _get(base + "/jobs")
    assert status == 200
    runs = {j["run_id"] for j in jobs}
    assert {"run-a", "run-b"} <= runs


def test_triples_pattern_read(rest_server):
    base, _ = rest_server
    from urllib.parse import quote

    status, rows = _get(
        base + f"/triples?p={quote(M.RDF_TYPE, safe='')}&limit=10"
    )
    assert status == 200 and 0 < len(rows) <= 10
    assert all(r["p"] == M.RDF_TYPE for r in rows)


def test_sparql_endpoint(rest_server):
    base, _ = rest_server
    status, sols = _post(
        base + "/sparql",
        {
            "query": f"SELECT DISTINCT * {{ ?d <{M.RDF_TYPE}> "
            f"<{M.QB_DATASET}> . ?d <{M.RDFS_LABEL}> ?label "
            f"OPTIONAL {{ ?d <{M.LSO_REF_YEAR}> ?year }} "
            "FILTER(?label != 'conv-0') }"
        },
    )
    assert status == 200 and len(sols) > 0
    assert all(set(s) == {"d", "label", "year"} for s in sols)
    assert all(s["label"] != "conv-0" for s in sols)
    # bad request: filter over a variable no group binds
    status, err = _post(
        base + "/sparql",
        {
            "query": f"SELECT * {{ ?d <{M.RDF_TYPE}> <{M.QB_DATASET}> "
            "FILTER(?x > 1) }"
        },
    )
    assert status == 400 and "error" in err
    # bad request: missing query
    assert _post(base + "/sparql", {})[0] == 400


def test_sparql_endpoint_union_order_by(rest_server):
    """UNION + ORDER BY plumb through the HTTP body to the evaluator."""
    base, _ = rest_server
    status, sols = _post(
        base + "/sparql",
        {
            "query": f"SELECT * {{ ?d <{M.RDF_TYPE}> <{M.QB_DATASET}> "
            f"{{ ?d <{M.RDFS_LABEL}> ?v }} "
            f"UNION {{ ?d <{M.LSO_REF_YEAR}> ?v }} }} "
            "ORDER BY DESC(?v) LIMIT 5"
        },
    )
    assert status == 200 and 0 < len(sols) <= 5
    vals = [s["v"] for s in sols]
    assert vals == sorted(vals, reverse=True)
    # a union whose branch leaves a shared variable unbound is a 400
    status, err = _post(
        base + "/sparql",
        {
            "query": f"SELECT * {{ ?d <{M.RDF_TYPE}> <{M.QB_DATASET}> "
            f"{{ ?d <{M.RDFS_LABEL}> ?v }} "
            f"UNION {{ <conv-x> <{M.LSO_REF_YEAR}> ?v }} }}"
        },
    )
    assert status == 400 and "error" in err


def test_sparql_endpoint_textual_query(rest_server):
    """POST /sparql with a textual query (Sparql.select analog): the
    reference's catalog-listing shape runs as-is over the converted
    table."""
    base, _ = rest_server
    status, sols = _post(
        base + "/sparql",
        {
            "query": "select ?d ?label {?d a qb:DataSet. "
            "?d rdfs:label ?label.} order by ?label limit 4"
        },
    )
    assert status == 200 and 0 < len(sols) <= 4
    labels = [s["label"] for s in sols]
    assert labels == sorted(labels)
    assert all(set(s) == {"d", "label"} for s in sols)
    # syntax error -> 400 with the parser's message
    status, err = _post(base + "/sparql", {"query": "select ?x"})
    assert status == 400 and "error" in err
    # unsupported form -> 400, not a 500 (BIND/MINUS/GRAPH are
    # supported now; SERVICE and unknown filter built-ins stay loud)
    status, err = _post(
        base + "/sparql",
        {"query": "select ?x { service <http://ep> { ?x ?p ?o } }"},
    )
    assert status == 400 and "error" in err
    # GRAPH over a URI outside the graph base names no dataset -> an
    # empty graph, i.e. 200 with zero solutions (not an error)
    status, sols = _post(
        base + "/sparql",
        {"query": "select ?x { graph <http://g> { ?x ?p ?o } }"},
    )
    assert status == 200 and sols == []
    status, err = _post(
        base + "/sparql",
        {"query": "select ?x { ?x ?p ?o filter(levenshtein(?o)) }"},
    )
    assert status == 400 and "unknown aggregate or" in err["error"]
    # isBlank executes now (round 5): constantly false over engine
    # tables (the converter mints URIs — no blank nodes survive)
    status, sols = _post(
        base + "/sparql",
        {"query": "select ?x { ?x ?p ?o filter(isBlank(?o)) }"},
    )
    assert status == 200 and sols == []
    # nondeterministic built-ins are named 400s, not misparses
    status, err = _post(
        base + "/sparql",
        {"query": "select ?x { ?x ?p ?o filter(rand() < 0.5) }"},
    )
    assert status == 400 and "nondeterministic" in err["error"]
    # langMatches executes now (round 5) over the kinds-carrying table
    status, sols = _post(
        base + "/sparql",
        {"query": "select ?x { ?x ?p ?o "
                  'filter(langMatches(lang(?o), "*")) } limit 3'},
    )
    assert status == 200
    # BIND runs: the expression lands in the solutions
    status, sols = _post(
        base + "/sparql",
        {"query": 'select ?d ?u { ?d a qb:DataSet bind(ucase(?d) as ?u) }'
                  " limit 2"},
    )
    assert status == 200 and all(s["u"] == s["d"].upper() for s in sols)


def test_job_control_endpoints(rest_server, spark, tmp_path):
    """POST /jobs/convert runs a manifest-resumable convert on a worker
    thread (Rest.java /control/convertcomplete analog); a resubmit
    resumes (all buckets skipped); /jobs/cancel transitions the state."""
    import time as _time

    from linkedspending_spark.transcripts import synth_transcripts_df

    base, service = rest_server
    inp = str(tmp_path / "transcripts")
    synth_transcripts_df(service.spark, n_convs=6, base_turns=4).write.parquet(inp)
    body = {
        "input": inp,
        "output": str(tmp_path / "out"),
        "manifests": str(tmp_path / "manifests"),
        "n_buckets": 4,
    }
    status, sub = _post(base + "/jobs/convert", body)
    assert status == 200 and sub["state"] == "RUNNING"

    def wait_done(jid, timeout=120):
        for _ in range(timeout * 4):
            _, active = _get(base + "/jobs/active")
            e = next(a for a in active if a["job"] == jid)
            if e["state"] != "RUNNING":
                return e
            _time.sleep(0.25)
        raise AssertionError(f"job {jid} still RUNNING")

    e = wait_done(sub["job"])
    assert e["state"] == "FINISHED", e
    assert e["report"]["converted_triples"] > 0
    assert len(e["report"]["pending"]) == 4 and e["report"]["skipped"] == 0

    # resubmit: manifest-driven resume -> nothing pending, nothing redone
    status, sub2 = _post(base + "/jobs/convert", body)
    e2 = wait_done(sub2["job"])
    assert e2["state"] == "FINISHED"
    assert e2["report"]["pending"] == [] and e2["report"]["skipped"] == 4
    assert e2["report"]["converted_triples"] == 0

    # cancel a finished job is a no-op report; unknown id is a 404
    status, c = _post(base + "/jobs/cancel/" + sub["job"], {})
    assert status == 200 and c["state"] == "FINISHED"
    assert _post(base + "/jobs/cancel/nope", {})[0] == 404
    # validation
    assert _post(base + "/jobs/convert", {"input": inp})[0] == 400


def test_job_cancel_running(rest_server, spark, tmp_path):
    """Cancelling a RUNNING submission cancels its Spark job group and
    the state lands CANCELLED (not FAILED) — the stopconvert analog."""
    import time as _time

    from linkedspending_spark.transcripts import synth_transcripts_df

    base, service = rest_server
    inp = str(tmp_path / "transcripts_big")
    # enough work that the run is still in flight when the cancel lands
    synth_transcripts_df(service.spark, n_convs=400, base_turns=12).write.parquet(inp)
    body = {
        "input": inp,
        "output": str(tmp_path / "out"),
        "manifests": str(tmp_path / "manifests"),
        "n_buckets": 64,
    }
    _, sub = _post(base + "/jobs/convert", body)
    _, c = _post(base + "/jobs/cancel/" + sub["job"], {})
    for _ in range(240):
        _, active = _get(base + "/jobs/active")
        e = next(a for a in active if a["job"] == sub["job"])
        if e["state"] != "RUNNING" and not e.get("thread_alive"):
            break
        _time.sleep(0.25)
    # the cancel either won the race (CANCELLED) or the job had already
    # finished — both are valid terminal states; FAILED would be a bug
    assert e["state"] in ("CANCELLED", "FINISHED"), e


def test_job_timeout_watchdog(rest_server, spark, tmp_path, monkeypatch):
    """timeout_sec bounds a convert like the reference's 1-hour worker
    timeout (Boss.java:87-88, future.get(1, HOURS) → FAILED): the
    watchdog cancels the job group, the state lands FAILED with a
    timeout error naming the resume path, and committed buckets stay
    in the manifest so a resubmit WITHOUT the timeout resumes. The
    timer is a fake, fired by hand at the runner's first phase-boundary
    poll after its buckets committed, so the outcome does not depend
    on where a real timer lands among the Spark jobs."""
    import os
    import time as _time

    from linkedspending_spark import jobs, rest
    from linkedspending_spark.transcripts import synth_transcripts_df

    base, service = rest_server
    inp = str(tmp_path / "transcripts")
    synth_transcripts_df(
        service.spark, n_convs=12, base_turns=4
    ).write.parquet(inp)
    body = {
        "input": inp,
        "output": str(tmp_path / "out"),
        "manifests": str(tmp_path / "manifests"),
        "n_buckets": 8,
        "timeout_sec": 1,
    }

    timers, fired = [], []

    class FakeTimer:
        def __init__(self, interval, fn):
            self.fn = fn
            self.daemon = False
            timers.append(self)

        def start(self):
            pass

        def cancel(self):
            pass

    real_runner = jobs.run_transcripts_job

    def runner(*args, **kwargs):
        should_stop = kwargs["should_stop"]

        def poll():
            if timers and not fired and os.path.exists(
                os.path.join(body["manifests"], "_SUCCESS")
            ):
                fired.append(True)
                timers[-1].fn()
            return should_stop()

        return real_runner(*args, **{**kwargs, "should_stop": poll})

    monkeypatch.setattr(rest.threading, "Timer", FakeTimer)
    monkeypatch.setattr(jobs, "run_transcripts_job", runner)

    def wait_done(jid, polls):
        for _ in range(polls):
            _, active = _get(base + "/jobs/active")
            e = next(a for a in active if a["job"] == jid)
            if e["state"] != "RUNNING" and not e.get("thread_alive"):
                return e
            _time.sleep(0.25)
        return e

    _, sub = _post(base + "/jobs/convert", body)
    e = wait_done(sub["job"], 240)
    assert fired, "the watchdog never fired"
    assert e["state"] == "FAILED", e
    assert "timeout" in e.get("error", ""), e
    # a resubmit without the bound resumes from the committed buckets
    # and finishes — the timed-out run lost only in-flight work
    body.pop("timeout_sec")
    _, sub2 = _post(base + "/jobs/convert", body)
    e2 = wait_done(sub2["job"], 480)
    assert e2["state"] == "FINISHED", e2
    assert e2["report"]["skipped"] > 0  # committed buckets resumed
    # a zero/invalid bound is a 400, not a job that dies instantly
    body["timeout_sec"] = 0
    assert _post(base + "/jobs/convert", body)[0] == 400


def test_job_watchdog_after_runner_returned_keeps_success(
    rest_server, spark, tmp_path, monkeypatch
):
    """A watchdog that fires once the runner has returned (before the
    worker records the outcome) must not report the finished convert
    as FAILED; one that fires before the runner's last phase boundary
    still fails the job, and if the data write had already committed,
    the job keeps the report of what it committed. The timer is a
    fake, fired by hand at each point, so the race is deterministic."""
    import os

    from linkedspending_spark import jobs, rest

    _, service = rest_server
    inp = str(tmp_path / "transcripts")
    synth_transcripts_df(spark, n_convs=4, base_turns=3).write.parquet(inp)

    timers = []

    class FakeTimer:
        def __init__(self, interval, fn):
            self.fn = fn
            timers.append(self)

        def start(self):
            pass

        def cancel(self):
            pass

    real_runner = jobs.run_transcripts_job
    fire_at = "after"

    def runner(*args, **kwargs):
        should_stop = kwargs["should_stop"]

        def poll():
            # the first poll after the run recorded its committed
            # buckets in the (fresh) manifest store
            if fire_at == "committed" and os.path.exists(
                os.path.join(kwargs["manifest_path"], "_SUCCESS")
            ):
                timers[-1].fn()
            return should_stop()

        if fire_at == "before":
            timers[-1].fn()
        report = real_runner(*args, **{**kwargs, "should_stop": poll})
        if fire_at == "after":
            timers[-1].fn()
        return report

    monkeypatch.setattr(rest.threading, "Timer", FakeTimer)
    monkeypatch.setattr(jobs, "run_transcripts_job", runner)

    def submit(run: str) -> dict:
        sub = service.job_convert(
            {
                "input": inp,
                "output": str(tmp_path / run / "out"),
                "manifests": str(tmp_path / run / "man"),
                "n_buckets": 4,
                "timeout_sec": 3600,
            }
        )
        service._jobs[sub["job"]]["thread"].join(timeout=300)
        return next(a for a in service.jobs_active() if a["job"] == sub["job"])

    e = submit("after")
    assert e["state"] == "FINISHED" and e["error"] is None, e
    assert e["report"]["converted_triples"] > 0

    fire_at = "before"
    e = submit("before")
    assert e["state"] == "FAILED" and "timeout" in e["error"], e

    fire_at = "committed"
    e = submit("committed")
    assert e["state"] == "FAILED" and "timeout" in e["error"], e
    assert e["report"]["state"] == "CANCELLED", e
    assert e["report"]["converted_triples"] > 0, e


def test_job_progress_counters(rest_server, spark, tmp_path):
    """/jobs/active reports task-level progress for RUNNING
    submissions (the Job.java:43-45 percent-counter analog) from
    Spark's statusTracker; the field is absent on terminal entries
    and the endpoint never errors while polling a live run."""
    import time as _time

    from linkedspending_spark.transcripts import synth_transcripts_df

    base, service = rest_server
    inp = str(tmp_path / "transcripts_prog")
    synth_transcripts_df(
        service.spark, n_convs=400, base_turns=12
    ).write.parquet(inp)
    _, sub = _post(base + "/jobs/convert", {
        "input": inp,
        "output": str(tmp_path / "out"),
        "manifests": str(tmp_path / "manifests"),
        "n_buckets": 64,
    })
    seen_progress = []
    for _ in range(240):
        status, active = _get(base + "/jobs/active")
        assert status == 200
        e = next(a for a in active if a["job"] == sub["job"])
        if e["state"] == "RUNNING" and e.get("progress"):
            seen_progress.append(e["progress"])
        if e["state"] != "RUNNING" and not e.get("thread_alive"):
            break
        _time.sleep(0.1)
    assert e["state"] == "FINISHED", e
    assert "progress" not in e  # terminal entries carry no tracker read
    for p in seen_progress:  # any snapshot taken mid-run is well-formed
        assert 0 <= p["tasks_done"] <= p["tasks_total"]
        assert 0.0 <= p["percent"] <= 100.0


def test_sparql_w3c_results_format(rest_server):
    """format=w3c returns the W3C sparql-results+json shape: head.vars,
    typed terms (uri vs literal), unbound variables omitted."""
    base, _ = rest_server
    status, res = _post(
        base + "/sparql",
        {
            "query": "select ?d ?year { ?d a qb:DataSet "
            "optional { ?d lso:refYear ?year } } limit 5",
            "format": "w3c",
        },
    )
    assert status == 200
    assert res["head"]["vars"] == ["d", "year"]
    bindings = res["results"]["bindings"]
    assert bindings
    for b in bindings:
        assert b["d"]["type"] == "uri"
        assert b["d"]["value"].startswith("http://")
        if "year" in b:  # unbound -> omitted per the spec
            assert b["year"]["type"] == "literal"
    # aggregates come back as typed numeric literals
    status, res = _post(
        base + "/sparql",
        {
            "query": "select (count(*) as ?n) { ?s ?p ?o }",
            "format": "w3c",
        },
    )
    n = res["results"]["bindings"][0]["n"]
    assert n["datatype"].endswith("integer") and int(n["value"]) > 0


def test_sparql_ask_over_http(rest_server):
    base, _ = rest_server
    status, res = _post(
        base + "/sparql", {"query": "ask { ?d a qb:DataSet }"}
    )
    assert status == 200 and res == {"ask": True}
    status, res = _post(
        base + "/sparql",
        {"query": 'ask { ?d rdfs:label "no such label" }', "format": "w3c"},
    )
    assert status == 200 and res == {"head": {}, "boolean": False}


def test_malformed_numeric_params_are_400(rest_server):
    base, _ = rest_server
    import urllib.error

    for url in ("/triples?limit=abc", "/triples?limit=-5"):
        try:
            status, body = _get(base + url)
        except urllib.error.HTTPError as e:
            status, body = e.code, json.loads(e.read())
        assert status == 400 and "error" in body, (url, status, body)
    assert _post(base + "/sparql", {"query": "select ?s { ?s ?p ?o } "
                                             "limit -5"})[0] == 400
    assert _post(base + "/jobs/convert", {"input": "x", "output": "y",
                                          "manifests": "z",
                                          "n_buckets": "many"})[0] == 400


def test_nested_aggregate_operand_evaluates_wrong_arity_is_400(rest_server):
    """A call nested at any depth inside an aggregate, in ORDER BY,
    HAVING or a SELECT expression, evaluates (HTTP 200). The same
    queries with a wrong argument count inside the nesting are refused
    at parse time (HTTP 400) with the arity error. Aggregate-like text
    inside a string literal is neither refused nor rewritten."""
    base, _ = rest_server
    shapes = (
        "SELECT ?s (COUNT(?o) AS ?n) { ?s ?p ?o } GROUP BY ?s "
        "ORDER BY DESC(SUM(round(abs(?o)%s)))",
        "SELECT ?s { ?s ?p ?o } GROUP BY ?s "
        "HAVING(SUM(round(abs(?o)%s)) > 1)",
        "SELECT ?s (SUM(round(abs(?o)%s)) * 2 AS ?t) { ?s ?p ?o } GROUP BY ?s",
    )
    for shape in shapes:
        q = shape % ",2"
        status, body = _post(base + "/sparql", {"query": q})
        assert status == 400 and "takes 1 argument" in body["error"], (
            q, status, body)
        q = shape % ""
        status, body = _post(base + "/sparql", {"query": q})
        assert status == 200, (q, status, body)
    # a literal that names a call is data, not an aggregate
    status, _ = _post(
        base + "/sparql",
        {
            "query": "SELECT ?s { ?s ?p ?o } GROUP BY ?s "
            'HAVING(SUM(strlen(?o)) > 0 && "sum(" != "x") ORDER BY ?s'
        },
    )
    assert status == 200
    status, body = _post(
        base + "/sparql",
        {"query": 'SELECT (CONCAT("count(", ?s) AS ?t) { ?s ?p ?o } LIMIT 1'},
    )
    assert status == 200 and body[0]["t"].startswith("count(http"), body


def test_bad_expression_is_400_naming_it(rest_server):
    """A wrong arity, an unknown function, cast syntax and SQL that is
    not SPARQL are syntax errors at parse time: HTTP 400 whose message
    names the offending token, never a 500 from Spark's analyzer and
    never a silently accepted SQL predicate."""
    base, _ = rest_server
    for expression, name in (
        ("STRLEN(?o, ?o) > 1", "STRLEN"),
        ('UCASE() = "A"', "UCASE"),
        ("foo(?o)", "foo"),
        ("xsd:integer(?o) > 3", "xsd:integer"),
        ('?o LIKE "a%"', "LIKE"),
    ):
        status, body = _post(
            base + "/sparql",
            {"query": f"SELECT ?s {{ ?s ?p ?o FILTER({expression}) }}"},
        )
        assert status == 400, (expression, status, body)
        assert name.lower() in body["error"].lower(), (expression, body)


# --- round 5: data-driven W3C typing, single bounding choke point ---------


@pytest.fixture(scope="module")
def typed_server(spark):
    """A tiny triple table with adversarial typing: a literal whose
    lexical form IS a URL, a genuine URI object, a typed numeric, and a
    language-tagged label — plus max_rows=3 to gate the choke point."""
    rows = [
        # s, p, o, o_kind, o_datatype, o_lang, dataset
        ("http://ex/d1", M.RDFS_LABEL, "http://looks-like-a-uri.example/x",
         "literal", None, "en", "t"),
        ("http://ex/d1", M.RDF_TYPE, M.QB_DATASET, "uri", None, None, "t"),
        ("http://ex/d1", "http://ex/num", "42", "literal",
         M.NS_XSD + "integer", None, "t"),
        ("http://ex/d2", M.RDFS_LABEL, "plain words", "literal",
         None, None, "t"),
        ("http://ex/d2", M.RDF_TYPE, M.QB_DATASET, "uri", None, None, "t"),
        ("http://ex/d3", M.RDF_TYPE, M.QB_DATASET, "uri", None, None, "t"),
        ("http://ex/d4", M.RDF_TYPE, M.QB_DATASET, "uri", None, None, "t"),
    ]
    triples = spark.createDataFrame(
        rows,
        "s string, p string, o string, o_kind string, o_datatype string, "
        "o_lang string, dataset string",
    )
    service = RestService(spark, triples=triples, max_rows=3, with_stats=False)
    server = make_server(service)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    port = server.server_address[1]
    yield f"http://127.0.0.1:{port}", service
    server.shutdown()


def test_w3c_typing_from_data_not_heuristic(typed_server):
    """W3C bindings are typed from o_kind/o_datatype/o_lang: a literal
    that CONTAINS a URL stays `literal` (the old prefix heuristic would
    mistype it `uri`), a URI object is `uri`, a typed numeric carries
    its datatype, a tagged label its xml:lang."""
    base, _ = typed_server
    status, res = _post(
        base + "/sparql",
        {"query": 'select ?o { <http://ex/d1> ?p ?o }', "format": "w3c"},
    )
    assert status == 200
    assert res["head"]["vars"] == ["o"]  # companions never leak out
    by_val = {b["o"]["value"]: b["o"] for b in res["results"]["bindings"]}
    url_lit = by_val["http://looks-like-a-uri.example/x"]
    assert url_lit["type"] == "literal" and url_lit["xml:lang"] == "en"
    assert by_val[M.QB_DATASET]["type"] == "uri"
    num = by_val["42"]
    assert num["type"] == "literal"
    assert num["datatype"] == M.NS_XSD + "integer"

    # subject-position variables are uri by construction
    status, res = _post(
        base + "/sparql",
        {"query": "select ?d { ?d a qb:DataSet } limit 2", "format": "w3c"},
    )
    assert all(
        b["d"]["type"] == "uri" for b in res["results"]["bindings"]
    )

    # aggregates: typed by their own result type (integer count)
    status, res = _post(
        base + "/sparql",
        {"query": "select (count(*) as ?n) { ?s ?p ?o }", "format": "w3c"},
    )
    n = res["results"]["bindings"][0]["n"]
    assert n["datatype"].endswith("integer") and n["value"] == "7"


def test_w3c_typing_via_optional_and_union(typed_server):
    """Companion columns survive OPTIONAL left joins and UNION branches."""
    base, _ = typed_server
    status, res = _post(
        base + "/sparql",
        {
            "query": "select ?d ?l { ?d a qb:DataSet "
                     "optional { ?d rdfs:label ?l } } order by ?d",
            "format": "w3c",
        },
    )
    assert status == 200
    bindings = res["results"]["bindings"]
    assert len(bindings) == 3  # max_rows=3 caps d1..d4
    b1 = next(b for b in bindings if b["d"]["value"].endswith("d1"))
    assert b1["l"]["type"] == "literal" and b1["l"]["xml:lang"] == "en"
    b3 = next(b for b in bindings if b["d"]["value"].endswith("d3"))
    assert "l" not in b3  # unbound optional omitted per spec


def test_no_endpoint_exceeds_max_rows(typed_server, rest_server):
    """The single bounding choke point: no endpoint returns more than
    max_rows rows, whatever the body or query string claims."""
    base, service = typed_server
    assert service.max_rows == 3
    # GET /triples with a crafted limit
    status, rows = _get(base + "/triples?limit=999999")
    assert status == 200 and len(rows) == 3
    # POST /sparql SELECT * with a crafted limit
    status, sols = _post(
        base + "/sparql", {"query": "select * { ?s ?p ?o } limit 999999"}
    )
    assert status == 200 and len(sols) == 3
    # POST /sparql textual with its own huge LIMIT and an OFFSET
    status, sols = _post(
        base + "/sparql", {"query": "select ?s { ?s ?p ?o } limit 999999"}
    )
    assert status == 200 and len(sols) == 3
    # textual without any LIMIT at all
    status, sols = _post(base + "/sparql", {"query": "select ?s {?s ?p ?o}"})
    assert status == 200 and len(sols) == 3
    # /datasets and /jobs go through the same choke point (bigger
    # fixture server: its max_rows=500 >= row count, so just shape)
    rbase, rservice = rest_server
    assert len(_get(rbase + "/datasets")[1]) <= rservice.max_rows
    assert len(_get(rbase + "/jobs")[1]) <= rservice.max_rows


def test_offset_paging_walks_solutions_exactly_once(typed_server):
    """OFFSET + ORDER BY pages the full solution set: union of pages =
    the set, no row twice (REST-level walk per VERDICT item 2)."""
    base, _ = typed_server
    seen = []
    for k in range(0, 9, 2):
        status, sols = _post(
            base + "/sparql",
            {"query": "select ?d { ?d a qb:DataSet } "
                      f"order by ?d limit 2 offset {k}"},
        )
        assert status == 200
        seen += [s["d"] for s in sols]
        if not sols:
            break
    assert seen == sorted(seen) and len(seen) == len(set(seen)) == 4


def test_job_cancel_hook_stops_between_stages(spark, tmp_path):
    """run_transcripts_job's should_stop hook fires at the pre-write
    phase boundary: state CANCELLED, JobCancelled raised, nothing
    committed to the manifest."""
    from linkedspending_spark.jobs import JobCancelled, run_transcripts_job
    from linkedspending_spark.sources.manifest import ManifestStore
    from linkedspending_spark.transcripts import synth_transcripts_df

    t = synth_transcripts_df(spark, n_convs=4, base_turns=3)
    mpath = str(tmp_path / "m")
    with pytest.raises(JobCancelled):
        run_transcripts_job(
            spark,
            t,
            out_path=str(tmp_path / "out"),
            manifest_path=mpath,
            n_buckets=4,
            should_stop=lambda: True,
        )
    # nothing was recorded: a resubmit starts from zero, cleanly
    assert ManifestStore(spark, mpath).read().count() == 0


def test_job_history_endpoint_survives_restart(rest_server, spark, tmp_path):
    """GET /jobs/history/{run_id} (Job.java history + NewsFeedWriter
    feed analog): a cancelled REST convert leaves its full transition
    trail in the metrics store, readable from a FRESH service instance
    (process-restart analog) via the run_id returned at submit time."""
    import time as _time

    from linkedspending_spark.transcripts import synth_transcripts_df

    base, service = rest_server
    inp = str(tmp_path / "transcripts_hist")
    synth_transcripts_df(service.spark, n_convs=200, base_turns=10).write.parquet(inp)
    met = str(tmp_path / "metrics_hist")
    body = {
        "input": inp,
        "output": str(tmp_path / "out"),
        "manifests": str(tmp_path / "manifests"),
        "n_buckets": 32,
        "metrics": met,
    }
    _, sub = _post(base + "/jobs/convert", body)
    assert sub["run_id"] and sub["history"] == f"/jobs/history/{sub['run_id']}"
    _post(base + "/jobs/cancel/" + sub["job"], {})
    for _ in range(240):
        _, active = _get(base + "/jobs/active")
        e = next(a for a in active if a["job"] == sub["job"])
        # CANCELLED flips at cancel time; wait for the worker to finish
        # unwinding (terminal history event written in its finally)
        if e["state"] != "RUNNING" and not e["thread_alive"]:
            break
        _time.sleep(0.25)
    assert e["state"] in ("CANCELLED", "FINISHED"), e
    assert e["run_id"] == sub["run_id"] and not e["thread_alive"]

    # "restart": a brand-new service over the same metrics store — the
    # trail is on disk, not process state
    fresh = RestService(service.spark, metrics_path=met, with_stats=False)
    server2 = make_server(fresh)
    threading.Thread(target=server2.serve_forever, daemon=True).start()
    base2 = f"http://127.0.0.1:{server2.server_address[1]}"
    try:
        status, trail = _get(base2 + sub["history"])
        assert status == 200 and trail
        events = [r["event"] for r in trail]
        assert events[0] == "submitted"
        assert [r["seq"] for r in trail] == sorted(r["seq"] for r in trail)
        # terminal event matches the job's terminal state
        assert events[-1] == e["state"].lower()
        if e["state"] == "CANCELLED":
            assert "finished" not in events
        # unknown run is a 404, not an empty 200
        status, err = _get_err(base2 + "/jobs/history/nope")
        assert status == 404 and "no history" in err["error"]
    finally:
        server2.shutdown()
    # a service without a metrics store 404s the whole route
    status, err = _get_err(base + "/jobs/history/" + sub["run_id"])
    assert status == 404 and "metrics" in err["error"]


def _get_err(url: str):
    try:
        with urllib.request.urlopen(url, timeout=60) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_sparql_protocol_get_binding(rest_server):
    """W3C SPARQL-protocol GET: /sparql?query=... answers in
    sparql-results+json (the protocol default); missing or malformed
    queries are 400s, not 500s."""
    from urllib.parse import quote

    base, _ = rest_server
    q = "select ?d { ?d a qb:DataSet } limit 3"
    status, res = _get(base + "/sparql?query=" + quote(q))
    assert status == 200
    assert res["head"]["vars"] == ["d"]
    assert 0 < len(res["results"]["bindings"]) <= 3
    assert all(b["d"]["type"] == "uri" for b in res["results"]["bindings"])
    status, res = _get_err(base + "/sparql")
    assert status == 400 and "query" in res["error"]
    status, res = _get_err(base + "/sparql?query=" + quote("construct {}"))
    assert status == 400


def test_feed_rss_of_job_events(rest_server, spark, tmp_path):
    """GET /feed (NewsFeedWriter.java RSS analog): well-formed RSS 2.0
    over the persisted history rows, newest first, XML-escaped."""
    import urllib.request
    import xml.etree.ElementTree as ET

    from linkedspending_spark.jobs import run_transcripts_job
    from linkedspending_spark.transcripts import synth_transcripts_df

    base, service = rest_server
    met = str(tmp_path / "met_feed")
    t = synth_transcripts_df(spark, n_convs=4, base_turns=3)
    r = run_transcripts_job(
        spark, t, str(tmp_path / "o"), str(tmp_path / "m"),
        n_buckets=4, metrics_path=met,
    )
    svc = RestService(spark, metrics_path=met, with_stats=False)
    server = make_server(svc)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{server.server_address[1]}/feed"
        with urllib.request.urlopen(url, timeout=60) as resp:
            assert resp.status == 200
            assert resp.headers["Content-Type"].startswith("application/rss+xml")
            body = resp.read().decode()
        root = ET.fromstring(body)  # well-formed XML
        assert root.tag == "rss" and root.attrib["version"] == "2.0"
        titles = [i.findtext("title") for i in root.iter("item")]
        assert titles[0] == f"run {r.run_id}: finished"  # newest first
        assert f"run {r.run_id}: submitted" in titles
        dates = [i.findtext("pubDate") for i in root.iter("item")]
        assert all(d and d.endswith("-0000") or "GMT" in d for d in dates)
    finally:
        server.shutdown()
    # no metrics store -> 404 on the shared fixture service
    assert service.metrics_path is None
    assert _get_err(base + "/feed")[0] == 404


def test_sparql_algebra_minus(rest_server):
    """A MINUS group over HTTP (left-anti)."""
    base, _ = rest_server
    _, labelled = _post(
        base + "/sparql",
        {"query": f"SELECT * {{ ?d <{M.RDFS_LABEL}> ?label }} LIMIT 1"},
    )
    label = labelled[0]["label"]
    status, all_ds = _post(
        base + "/sparql",
        {"query": f"SELECT * {{ ?d <{M.RDF_TYPE}> <{M.QB_DATASET}> }}"},
    )
    status2, rest = _post(
        base + "/sparql",
        {
            "query": f"SELECT * {{ ?d <{M.RDF_TYPE}> <{M.QB_DATASET}> "
            f'MINUS {{ ?d <{M.RDFS_LABEL}> "{label}" }} }}'
        },
    )
    assert status == status2 == 200
    assert len(rest) == len(all_ds) - 1
    assert {s["d"] for s in all_ds} - {s["d"] for s in rest} == {
        labelled[0]["d"]
    }


def test_sparql_construct_over_http(rest_server):
    """CONSTRUCT over the endpoint: JSON triple-table rows by default;
    format nt (or the W3C GET binding) answers application/n-triples
    rendered by the engine's own nt_statement serializer."""
    from urllib.parse import quote

    q = (
        "construct { ?d <http://ex/label> ?l } "
        "where { ?d rdfs:label ?l } limit 5"
    )
    base, _ = rest_server
    status, rows = _post(base + "/sparql", {"query": q})
    assert status == 200 and rows
    assert set(rows[0]) == {"s", "p", "o", "o_kind", "o_datatype", "o_lang"}
    assert all(r["p"] == "http://ex/label" for r in rows)
    assert all(r["o_kind"] == "literal" for r in rows)

    req = urllib.request.Request(
        base + "/sparql",
        data=json.dumps({"query": q, "format": "nt"}).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=60) as r:
        assert r.headers["Content-Type"].startswith("application/n-triples")
        lines = r.read().decode().splitlines()
    assert len(lines) == len(rows)
    assert all(
        ln.startswith("<http://") and ln.endswith(" .") for ln in lines
    )

    with urllib.request.urlopen(
        base + "/sparql?query=" + quote(q), timeout=60
    ) as r:
        assert r.headers["Content-Type"].startswith("application/n-triples")
        assert sorted(r.read().decode().splitlines()) == sorted(lines)


def test_sparql_describe_over_http(rest_server):
    """DESCRIBE over the endpoint shares the graph response paths."""
    base, _ = rest_server
    _, one = _post(
        base + "/sparql",
        {"query": "select ?d { ?d a qb:DataSet } limit 1"},
    )
    uri = one[0]["d"]
    status, rows = _post(base + "/sparql", {"query": f"describe <{uri}>"})
    assert status == 200 and rows
    assert all(r["s"] == uri for r in rows)
    req = urllib.request.Request(
        base + "/sparql",
        data=json.dumps({"query": f"describe <{uri}>", "format": "nt"}).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=60) as r:
        assert r.headers["Content-Type"].startswith("application/n-triples")
        lines = r.read().decode().splitlines()
    assert len(lines) == len(rows)
    assert all(ln.startswith(f"<{uri}> ") and ln.endswith(" .") for ln in lines)


def _get_raw(url: str, accept: str | None = None):
    req = urllib.request.Request(
        url, headers={"Accept": accept} if accept else {}
    )
    try:
        with urllib.request.urlopen(req, timeout=60) as r:
            return r.status, r.headers.get("Content-Type"), r.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.headers.get("Content-Type"), e.read().decode()


def test_datasets_delete_endpoint(spark, tmp_path):
    """POST /datasets/delete — the DROP SILENT GRAPH binding the SPARQL
    Update refusal points at: tombstone-first, partition unlink, TTL
    cache invalidated so the listing hides the dataset immediately; no
    data_path configured → 404; bad names → 400."""
    import os
    import threading

    from pyspark.sql import functions as F

    from linkedspending_spark.rest import RestService, make_server
    from linkedspending_spark.sources.manifest import ManifestStore

    data = str(tmp_path / "triples")
    man = str(tmp_path / "man")
    t = spark.createDataFrame(
        [("s1", "p", "o", "alpha"), ("s2", "p", "o", "beta")],
        "s string, p string, o string, dataset string",
    )
    t.write.partitionBy("dataset").parquet(data)
    store = ManifestStore(spark, man)
    store.record("alpha", 1, 1, run_id="r1")
    store.record("beta", 1, 1, run_id="r1")
    svc = RestService(
        spark, manifest_path=man, data_path=data, with_stats=False
    )
    srv = make_server(svc)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        _, before = _get(base + "/datasets")
        assert {d["dataset"] for d in before} == {"alpha", "beta"}
        status, res = _post(
            base + "/datasets/delete", {"names": ["alpha", "ghost"]}
        )
        assert status == 200
        assert res["removed_partitions"] == 1  # SILENT: ghost is fine
        assert res["tombstoned"] == ["alpha", "ghost"]
        assert not os.path.isdir(os.path.join(data, "dataset=alpha"))
        assert os.path.isdir(os.path.join(data, "dataset=beta"))
        _, after = _get(base + "/datasets")  # cache invalidated
        assert {d["dataset"] for d in after} == {"beta"}
        assert _post(base + "/datasets/delete", {"names": []})[0] == 400
        assert _post(base + "/datasets/delete", {"names": "alpha"})[0] == 400
    finally:
        srv.shutdown()
    # deletion not served without a data_path
    svc2 = RestService(spark, manifest_path=man, with_stats=False)
    srv2 = make_server(svc2)
    threading.Thread(target=srv2.serve_forever, daemon=True).start()
    base2 = f"http://127.0.0.1:{srv2.server_address[1]}"
    try:
        assert (
            _post(base2 + "/datasets/delete", {"names": ["beta"]})[0]
            == 404
        )
        assert os.path.isdir(os.path.join(data, "dataset=beta"))
    finally:
        srv2.shutdown()


def test_datasets_html_negotiation(rest_server):
    """Accept: text/html renders /datasets as the reference's
    color-coded table (Rest.java:120 @Produces(TEXT_HTML) + the
    :135-143 legend); JSON stays the default otherwise."""
    base, _ = rest_server
    status, ctype, body = _get_raw(base + "/datasets", accept="text/html")
    assert status == 200 and ctype.startswith("text/html")
    assert "Color Code Legend" in body and "<table" in body
    assert "conv-0" in body
    # JSON default unchanged
    status, ds = _get(base + "/datasets")
    assert status == 200 and isinstance(ds, list)


def test_datasets_html_escapes_every_cell():
    """Every interpolated /datasets cell is HTML-escaped, not only the
    dataset name: a markup-bearing version or count renders as text."""
    from linkedspending_spark.rest import _datasets_as_html

    body = _datasets_as_html(
        [
            {
                "dataset": "<b>ds</b>",
                "version": "<script>v</script>",
                "n_triples": "<img src=x>",
                "n_commits": "a&b",
                "finished_at": "'q'",
            }
        ]
    )
    assert "<script>" not in body and "<img" not in body and "<b>" not in body
    for cell in (
        "&lt;b&gt;ds&lt;/b&gt;",
        "&lt;script&gt;v&lt;/script&gt;",
        "&lt;img src=x&gt;",
        "a&amp;b",
        "&#x27;q&#x27;",
    ):
        assert f"<td>{cell}</td>" in body


def test_sparql_result_format_negotiation(rest_server):
    """GET /sparql content-negotiates the W3C result serializations:
    CSV/TSV (sparql11-results-csv-tsv) and XML (rdf-sparql-XMLres);
    JSON stays the default for */* and absent Accept headers."""
    from urllib.parse import quote

    base, _ = rest_server
    q = quote(
        "select ?d ?label {?d a qb:DataSet. ?d rdfs:label ?label.} "
        "order by ?label limit 3"
    )
    url = f"{base}/sparql?query={q}"

    status, ctype, text = _get_raw(url, "text/csv")
    assert status == 200 and ctype.startswith("text/csv")
    lines = text.split("\r\n")
    assert lines[0] == "d,label" and len(lines) >= 2
    # CSV values are PLAIN lexical forms — no <> around URIs
    assert lines[1].startswith("http") and "<" not in lines[1]

    status, ctype, text = _get_raw(url, "text/tab-separated-values")
    assert status == 200 and ctype.startswith("text/tab-separated-values")
    lines = text.rstrip("\n").split("\n")
    assert lines[0] == "?d\t?label"
    d_term, label_term = lines[1].split("\t")
    assert d_term.startswith("<") and d_term.endswith(">")  # SPARQL syntax
    assert label_term.startswith('"')

    status, ctype, text = _get_raw(url, "application/sparql-results+xml")
    assert status == 200 and ctype.startswith(
        "application/sparql-results+xml"
    )
    import xml.etree.ElementTree as ET

    root = ET.fromstring(text)
    ns = "{http://www.w3.org/2005/sparql-results#}"
    heads = [
        v.attrib["name"] for v in root.find(ns + "head")
    ]
    assert heads == ["d", "label"]
    results = root.find(ns + "results").findall(ns + "result")
    assert 0 < len(results) <= 3
    first = {
        b.attrib["name"]: b[0] for b in results[0].findall(ns + "binding")
    }
    assert first["d"].tag == ns + "uri"
    assert first["label"].tag == ns + "literal"

    # default stays JSON (the protocol's requirement)
    status, ctype, text = _get_raw(url, "*/*")
    assert status == 200 and "json" in ctype
    import json as _json

    assert _json.loads(text)["head"]["vars"] == ["d", "label"]


def test_ask_xml_and_csv_rules(rest_server):
    from urllib.parse import quote

    base, _ = rest_server
    q = quote("ask { ?d a qb:DataSet }")
    status, ctype, text = _get_raw(
        f"{base}/sparql?query={q}", "application/sparql-results+xml"
    )
    assert status == 200 and "<boolean>true</boolean>" in text
    status, _, text = _get_raw(f"{base}/sparql?query={q}", "text/csv")
    assert status == 400 and "CSV/TSV" in text


def test_sparql_protocol_post_bindings(rest_server):
    """The W3C protocol's two POST request forms (what stock SPARQL
    clients send — SPARQLWrapper, Jena RDFConnection, curl): a direct
    application/sparql-query body, and form-encoded query=...; both
    content-negotiate the response from Accept. The engine's own JSON
    body form stays untouched."""
    from urllib.parse import urlencode

    base, _ = rest_server
    q = "select ?d { ?d a qb:DataSet } limit 3"

    def post_raw(body: bytes, ctype: str, accept: str | None = None):
        headers = {"Content-Type": ctype}
        if accept:
            headers["Accept"] = accept
        req = urllib.request.Request(
            base + "/sparql", data=body, headers=headers, method="POST"
        )
        try:
            with urllib.request.urlopen(req, timeout=60) as r:
                return r.status, r.headers.get_content_type(), r.read()
        except urllib.error.HTTPError as e:
            return e.code, e.headers.get_content_type(), e.read()

    # direct form
    status, ctype, body = post_raw(
        q.encode(), "application/sparql-query"
    )
    assert status == 200 and ctype == "application/sparql-results+json"
    res = json.loads(body)
    assert res["head"]["vars"] == ["d"]
    assert 0 < len(res["results"]["bindings"]) <= 3
    # form-encoded, negotiating CSV out
    status, ctype, body = post_raw(
        urlencode({"query": q}).encode(),
        "application/x-www-form-urlencoded",
        accept="text/csv",
    )
    assert status == 200 and ctype == "text/csv"
    lines = body.decode().splitlines()
    assert lines[0] == "d" and 0 < len(lines) - 1 <= 3
    # empty direct body is a 400, not a 500
    status, _, body = post_raw(b"", "application/sparql-query")
    assert status == 400 and b"query" in body
    # malformed SPARQL is a 400 with the parser's message
    status, _, body = post_raw(b"selct nope", "application/sparql-query")
    assert status == 400


def test_job_status_and_remove_inactive(rest_server, spark, tmp_path):
    """GET /jobs/{id} answers one submission's state (Job.java:130
    analog); /jobs/removeinactive (GET per the reference, POST too)
    prunes terminal submissions from the in-process table while the
    persisted run history survives."""
    import time as _time

    from linkedspending_spark.transcripts import synth_transcripts_df

    base, service = rest_server
    inp = str(tmp_path / "transcripts_ri")
    synth_transcripts_df(service.spark, n_convs=4, base_turns=3).write.parquet(
        inp
    )
    body = {
        "input": inp,
        "output": str(tmp_path / "out_ri"),
        "manifests": str(tmp_path / "manifests_ri"),
        "n_buckets": 2,
    }
    status, sub = _post(base + "/jobs/convert", body)
    assert status == 200
    jid = sub["job"]
    # single-job status while it exists
    for _ in range(480):
        status, e = _get(base + "/jobs/" + jid)
        assert status == 200 and e["job"] == jid
        if e["state"] != "RUNNING":
            break
        _time.sleep(0.25)
    assert e["state"] == "FINISHED"
    run_id = e["run_id"]

    # removeinactive prunes it (GET binding, as the reference exposes)
    status, out = _get(base + "/jobs/removeinactive")
    assert status == 200 and jid in out["removed"]
    assert _get_err(base + "/jobs/" + jid)[0] == 404
    _, active = _get(base + "/jobs/active")
    assert all(a["job"] != jid for a in active)
    # POST binding answers too, now a no-op
    status, out = _post(base + "/jobs/removeinactive", {})
    assert status == 200 and out["removed"] == []
    # the persisted run record survives the prune: the job's manifest
    # store still carries its completion rows (the prune touches only
    # the in-process table; history-endpoint restart survival is
    # covered by test_job_history_endpoint_survives_restart)
    from linkedspending_spark.sources.manifest import ManifestStore

    rows = (
        ManifestStore(spark, body["manifests"])
        .read()
        .where(F.col("run_id") == run_id)
        .count()
    )
    assert rows > 0
    # unknown id still 404s
    assert _get_err(base + "/jobs/nope")[0] == 404


def test_datasets_listing_hides_tombstoned(rest_server, spark):
    """A dataset whose LATEST manifest row is a deletion tombstone
    drops out of /datasets (latest-row-wins, like the dropped named
    graph); a later re-completion brings it back."""
    from linkedspending_spark.sources.manifest import ManifestStore

    base, service = rest_server
    store = ManifestStore(spark, service.manifest_path)
    store.record("conv-zz", 5, 77, run_id="run-z")
    service._datasets_cache = None
    assert "conv-zz" in {d["dataset"] for d in _get(base + "/datasets")[1]}
    store.tombstone(["conv-zz"], "run-z2")
    service._datasets_cache = None
    assert "conv-zz" not in {
        d["dataset"] for d in _get(base + "/datasets")[1]
    }
    store.record("conv-zz", 5, 78, run_id="run-z3")
    service._datasets_cache = None
    assert "conv-zz" in {d["dataset"] for d in _get(base + "/datasets")[1]}


def test_sparql_protocol_dataset_params(rest_server):
    """sparql11-protocol 2.1.4: default-graph-uri / named-graph-uri
    request parameters OVERRIDE the query's own FROM clauses — the
    GET binding and the form-encoded POST both accept them."""
    from urllib.parse import quote, urlencode

    from linkedspending_spark import model as M

    base, service = rest_server
    # one known dataset partition scoped via the protocol param
    g = M.PREFIX_GRAPH + "conv-0000"
    q = "select ?s { ?s ?p ?o } limit 5"
    status, r = _get_err(
        base
        + "/sparql?"
        + urlencode({"query": q, "default-graph-uri": g})
    )
    assert status == 200
    subs = {b["s"]["value"] for b in r["results"]["bindings"]}
    assert subs and all("conv-0000" in s for s in subs)
    # an unknown graph = empty default graph
    status, r = _get_err(
        base
        + "/sparql?"
        + urlencode({"query": q, "default-graph-uri": "http://nope/g"})
    )
    assert status == 200 and r["results"]["bindings"] == []
    # the protocol param OVERRIDES the query's own FROM
    q_from = f"select ?s FROM <http://nope/g> {{ ?s ?p ?o }} limit 5"
    status, r = _get_err(
        base
        + "/sparql?"
        + urlencode({"query": q_from, "default-graph-uri": g})
    )
    assert status == 200 and len(r["results"]["bindings"]) > 0
    # form-encoded POST carries the same parameters
    import urllib.request

    req = urllib.request.Request(
        base + "/sparql",
        data=urlencode({"query": q, "default-graph-uri": g}).encode(),
        headers={"Content-Type": "application/x-www-form-urlencoded"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=60) as resp:
        out = json.loads(resp.read())
    assert out["results"]["bindings"]


def test_construct_accept_turtle_and_ntriples(rest_server):
    """A CONSTRUCT under Accept: text/turtle answers the N-Triples
    body (valid Turtle) under the Turtle media type; explicit
    application/n-triples gets its own type."""
    from urllib.parse import quote

    base, _ = rest_server
    q2 = quote("construct { ?d <http://y/p> ?label } where { ?d a qb:DataSet . ?d rdfs:label ?label }")
    url = base + "/sparql?query=" + q2
    status, ctype, text = _get_raw(url, "text/turtle")
    assert status == 200 and ctype.startswith("text/turtle")
    assert text.strip().endswith(".") and "<http://y/p>" in text
    status, ctype, text2 = _get_raw(url, "application/n-triples")
    assert status == 200 and ctype.startswith("application/n-triples")
    assert text2 == text  # same body, negotiated media type
