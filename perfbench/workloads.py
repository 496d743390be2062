"""The two workloads, run against the engine through its public API.

``landings``: the transcripts arrive as two seeded groups of 32 of the
64 buckets. Each landing converts the cumulative input with the pandas
(Arrow UDF) mention detector, so the manifest skips the buckets already
done, canonicalizes the whole grown table, and then a fresh
``rest.RestService`` must answer the count query with exactly the
canonical count. The first landing is the set-up's warm-up; the second
is measured.

``build_serve``: a closed loop of one client sending ``POST /sparql`` to
an in-process ``rest.make_server`` over the graph the set-up built, for
``--seconds`` and at least MIN_REQUESTS requests, then one full build
(64 buckets, native mentions, canonicalize) into fresh directories.

Both report the same end-to-end metrics (``names.END_TO_END``); a traced
run re-plays the workload layer by layer (see :func:`land_traced`) and
reports the per-layer metrics of ``names.per_layer_metrics``.
"""

from __future__ import annotations

import functools
import http.client
import json
import os
import shutil
import subprocess
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkedspending_spark import jobs, rest, transcripts
from linkedspending_spark import model as M
from linkedspending_spark.operators import canon as C
from linkedspending_spark.operators import convert_transcripts as CT
from linkedspending_spark.operators.mentions import mention_triples_pandas
from linkedspending_spark.serve import bgp_stats
from linkedspending_spark.session import get_spark
from linkedspending_spark.sources import io as IO
from linkedspending_spark.sources.dictionaries import (
    country_df,
    country_pairs,
    currency_df,
    currency_pairs,
    fuzzy_vocabularies,
)
from linkedspending_spark.sources.manifest import ManifestStore, new_run_id
from linkedspending_spark.sparql import parse_select, select_text

import inputs
import oracle
from cpu import tree_cpu_s
from spans import Tracer, layer_metrics, layer_seconds
from stats import Tally, median, resolved_percentile

N_EVENTS = 2_500
READS_PER_LANDING = 24
WARMUP_REQUESTS = 10
MIN_REQUESTS = 20  # the median needs ten samples beyond it
PLAN_REQUESTS = 3000
TRACED_REQUESTS = 30


@dataclass
class Landing:
    """One landing's wall seconds and process-tree CPU-seconds."""

    convert_s: float
    canonicalize_s: float
    lag_s: float | None  # None: never answered correctly
    convert_cpu_s: float
    canonicalize_cpu_s: float
    lag_cpu_s: float | None
    converted: jobs.JobReport
    canonical: jobs.JobReport
    read_s: list[float]
    read_cpu_s: list[float]
    service: rest.RestService


@dataclass
class Bench:
    """One run: its session, scratch directories, checks and timings."""

    workdir: str
    seed: int
    seconds: float
    trace: bool = False
    tracer: Tracer | None = None
    tally: Tally = field(default_factory=Tally)
    setup_s: float = 0.0
    notes: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        self._dirs = 0

    def fresh(self, name: str) -> str:
        self._dirs += 1
        return os.path.join(self.workdir, f"{name}-{self._dirs}")

    def start_spark(self) -> None:
        self.spark = get_spark(
            len(os.sched_getaffinity(0)),
            app_name="perfbench",
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )

    def stop_spark(self) -> None:
        """Stop the session, then the gateway JVM (which takes the Python
        workers with it), and wait until it has exited."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext({})


def _force(df: DataFrame) -> DataFrame:
    """Execute ``df`` fully without writing output."""
    df.write.format("noop").mode("overwrite").save()
    return df


def _materialize(df: DataFrame) -> DataFrame:
    return _force(df.cache())


def _parquet_files(path: str, since: float = 0.0) -> tuple[int, int]:
    """(files, bytes) of the parquet files under ``path`` modified at or
    after ``since``."""
    n = size = 0
    for d, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                st = os.stat(os.path.join(d, name))
                if st.st_mtime >= since:
                    n += 1
                    size += st.st_size
    return n, size


def _now() -> tuple[float, float]:
    """(wall seconds, CPU-seconds of the process tree)."""
    return time.perf_counter(), tree_cpu_s()


def _bucket() -> "F.Column":
    return jobs.bucket_of(F.col("conv_id"), inputs.N_BUCKETS)


# -- one landing ------------------------------------------------------------


def land(b: Bench, events_dir: str, arrived: list[int] | None, out: str, mode: str,
         reads: int = 1) -> Landing:
    """Convert the not-yet-done buckets of the arrived input, canonicalize,
    and read the count back ``reads`` times through a fresh RestService.
    The lag runs from arrival to the first correct answer; a wrong answer
    is a failed op, and so is a landing never answered correctly."""
    spark = b.spark
    t0, c0 = _now()
    tr = transcripts.transcripts_from_events(spark, events_dir)
    if arrived is not None:
        tr = tr.where(_bucket().isin(arrived))
    with b.span("jobs.run_transcripts_job"):
        conv = jobs.run_transcripts_job(
            spark, tr, f"{out}/triples", f"{out}/manifest",
            n_buckets=inputs.N_BUCKETS, mention_mode=mode,
        )
    t1, c1 = _now()
    with b.span("jobs.run_canonicalize_job"):
        can = jobs.run_canonicalize_job(spark, f"{out}/triples", f"{out}/canon", f"{out}/manifest")
    t2, c2 = _now()
    svc = rest.RestService(spark, spark.read.parquet(f"{out}/canon"))
    want = can.converted_triples
    read_s, read_cpu_s, lag, lag_cpu = [], [], None, None
    for _ in range(reads):
        a, ac = _now()
        body = svc.sparql({"query": inputs.COUNT_QUERY})
        z, zc = _now()
        read_s.append(z - a)
        read_cpu_s.append(zc - ac)
        if b.tally.record(body == [{"n": want}], f"count read {body} != {want}") and lag is None:
            lag, lag_cpu = z - t0, zc - c0
    b.tally.record(lag is not None, f"landing {arrived} never answered correctly")
    return Landing(t1 - t0, t2 - t1, lag, c1 - c0, c2 - c1, lag_cpu, conv, can,
                   read_s, read_cpu_s, svc)


def land_traced(b: Bench, events_dir: str, arrived: list[int] | None, out: str, mode: str,
                converted_before: int) -> tuple[int, float]:
    """The same landing, layer by layer through the public functions the
    job runners compose, each forced on its own so its span holds its
    own work. Returns (canonical triples, wall seconds)."""
    spark, T = b.spark, b.tracer.span
    t0 = time.perf_counter()
    with T("landing"):
        with T("transcripts.transcripts_from_events"):
            tr = transcripts.transcripts_from_events(spark, events_dir)
            if arrived is not None:
                tr = tr.where(_bucket().isin(arrived))
            tr = _materialize(tr)
        store = ManifestStore(spark, f"{out}/manifest")
        work = tr.select(_bucket().cast("string").alias("dataset")).distinct()
        with T("manifest.pending"):
            pending = sorted(int(r["dataset"]) for r in store.pending(work).collect())
        todo = tr.where(_bucket().isin(pending))
        parts = []
        with T("convert.observation_triples"):
            parts.append(_materialize(CT.observation_triples(todo)))
        with T("convert.dataset_triples"):
            parts.append(_materialize(CT.dataset_triples(todo)))
        if mode == "native":
            with T("convert.mention_triples"):
                parts.append(_materialize(CT.mention_triples(todo, currency_df(spark), country_df(spark))))
        else:
            cur, ctry = fuzzy_vocabularies()
            with T("mentions.mention_triples_pandas"):
                for vocab, p in ((cur, M.DBO_CURRENCY), (ctry, M.SDMX_REF_AREA)):
                    parts.append(_materialize(mention_triples_pandas(spark, todo, vocab, p)))
        triples = functools.reduce(DataFrame.unionByName, parts)
        if mode == "pandas":  # the fuzzy detector can emit duplicates
            triples = triples.dropDuplicates(["s", "p", "o"])
        _write(b, triples.withColumn("bucket", jobs.bucket_of(F.col("dataset"), inputs.N_BUCKETS)),
               f"{out}/triples")
        rows = [(str(k), None, None) for k in pending]
        if converted_before == 0:
            rows.append((jobs.BUCKETS_SENTINEL, inputs.N_BUCKETS, None))
        with T("manifest.record_many"):
            store.record_many(rows, run_id=new_run_id())
        for df in parts + [tr]:
            df.unpersist()

        table = spark.read.parquet(f"{out}/triples")
        with T("canon.property_alias_edges"):
            edges = _force(C.lineage_checkpoint(C.property_alias_edges(table)))
        with T("canon.connected_components"):
            comp = C.connected_components(edges, "src", "dst")
        with T("canon.prefer_representatives"):
            comp = _materialize(C.prefer_representatives(comp, edges.select(F.col("dst").alias("uri"))))
        with T("canon.canonicalize_triples_minimal_dedup"):
            canon = _materialize(C.canonicalize_triples_minimal_dedup(table, comp, rewrite_predicates=True))
        n = canon.count()
        _write(b, canon, f"{out}/canon")
        with T("manifest.record_many"):
            store.record_many([(jobs.CANON_SENTINEL, converted_before + len(pending), n)],
                              run_id=new_run_id())
        canon.unpersist()
        comp.unpersist()

        served = spark.read.parquet(f"{out}/canon")
        with T("serve.bgp_stats"):
            stats = bgp_stats(served)
        svc = rest.RestService(spark, served, with_stats=False)
        svc.stats = stats
        body, _ = query_traced(b, svc, "count", inputs.COUNT_QUERY)
        b.tally.record(body == [{"n": n}], f"traced count read {body}")
    return n, time.perf_counter() - t0


def _write(b: Bench, df: DataFrame, path: str) -> None:
    since = time.time()
    with b.tracer.span("io.write_triples") as sp:
        IO.write_triples(df, path, partition_col="bucket")
    files, size = _parquet_files(path, since)
    sp["extra"] = {"io.write_triples.files": files, "io.write_triples.bytes_mb": size / 1e6}


def query_traced(b: Bench, svc: rest.RestService, cls: str, query: str):
    """What ``RestService.sparql`` does for a JSON request, one span per
    serving layer. Returns (response body, seconds)."""
    T = b.tracer.span
    t0 = time.perf_counter()
    with T("sparql.parse_select"):
        parsed = parse_select(query)
    with T(f"sparql.select_text.{cls}"):
        df = select_text(svc.triples, query, stats=svc.stats, limit_cap=svc.max_rows, parsed=parsed)
    with T(f"execute.{cls}"):
        if parsed.ask:
            body = {"ask": bool(df.take(1))}
        else:
            body = [r.asDict() for r in df.limit(svc.max_rows).collect()]
    with T("rest.serialize"):
        json.dumps(body, default=str).encode("utf-8")
    return body, time.perf_counter() - t0


# -- serving ------------------------------------------------------------------


class Server:
    """``rest.make_server`` on a thread, and a one-connection client."""

    def __init__(self, svc: rest.RestService) -> None:
        self.httpd = rest.make_server(svc)
        self.port = self.httpd.server_address[1]
        self.thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self.thread.start()

    def post(self, query: str) -> tuple[int, object, float]:
        """(status, decoded body, seconds from send to the last byte)."""
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            t0 = time.perf_counter()
            conn.request("POST", "/sparql", body=json.dumps({"query": query}),
                         headers={"Content-Type": "application/json"})
            resp = conn.getresponse()
            data = resp.read()
            seconds = time.perf_counter() - t0
        finally:
            conn.close()
        return resp.status, json.loads(data), seconds

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        self.thread.join()


def ask(b: Bench, server: Server, answers: oracle.Answers, req: tuple) -> tuple[float, float]:
    """Send one planned request and check its answer; returns (seconds,
    CPU-seconds of the process tree, server side included)."""
    cls = req[0]
    c0 = tree_cpu_s()
    status, body, seconds = server.post(inputs.query_text(*req))
    cpu = tree_cpu_s() - c0
    ok = status == 200 and oracle.matches(cls, oracle.normalize(cls, body), answers.expected(*req))
    b.tally.record(ok, f"{req}: HTTP {status} {str(body)[:200]}")
    return seconds, cpu


def _query_metrics(seconds: list[float], cpu_s: list[float]) -> dict[str, float]:
    return {
        "query_cpu_ms": 1e3 * sum(cpu_s) / len(cpu_s),
        "query_p50_ms": 1e3 * resolved_percentile(seconds, 50),
        "query_qps": len(seconds) / sum(seconds),
    }


# -- workloads ----------------------------------------------------------------


def _setup(b: Bench, warm) -> tuple[str, object]:
    """Generate the inputs, start Spark and run ``warm(events_dir,
    events)``, the JIT and Python-worker warm-up; all of it is set-up
    time."""
    t0 = time.perf_counter()
    events = inputs.make_events(b.seed, N_EVENTS)
    events_dir = inputs.write_events(events, os.path.join(b.workdir, "events"))
    b.start_spark()
    warm(events_dir, events)
    b.setup_s += time.perf_counter() - t0
    if b.trace:  # spans start after set-up, so the warm-up is not traced
        b.tracer = Tracer(b.spark, f"run{b.seed}")
    return events_dir, events


def _expected_counts(events) -> tuple[int, int]:
    """(converted, canonical) triples for ``events`` with the built-in
    dictionaries."""
    codes = {c for c, _ in currency_pairs()} | {c for c, _ in country_pairs()}
    converted = oracle.expected_converted(events, codes)
    return converted, oracle.expected_canonical(converted, events["user_id"].nunique())


def _arrive(b: Bench, events_dir: str, arrived: list[int], group: list[int], out: str,
            reads: int = 1) -> Landing:
    """Land ``group`` on top of what ``out`` holds; the manifest must
    convert only the group's buckets and skip every other one."""
    ld = land(b, events_dir, arrived, out, "pandas", reads)
    resumed = set(ld.converted.pending) <= set(group) and (
        ld.converted.skipped == inputs.N_BUCKETS - len(ld.converted.pending)
    )
    b.tally.record(resumed, f"landing re-converted done buckets: {ld.converted.pending}")
    return ld


def landings(b: Bench) -> tuple[dict, dict]:
    """The first group lands during set-up, where it doubles as the
    warm-up; the second group's landing is measured."""
    groups = inputs.arrival_groups(b.seed)
    out = b.fresh("landings")
    events_dir, events = _setup(b, lambda d, _: _arrive(b, d, groups[0], groups[0], out))
    if b.tracer is not None:  # the traced replay starts from the same state
        replay = b.fresh("traced")
        shutil.copytree(out, replay)
    _, want_final = _expected_counts(events)
    ld = _arrive(b, events_dir, groups[0] + groups[1], groups[1], out, READS_PER_LANDING)
    final = ld.canonical.converted_triples
    b.tally.record(final == want_final, f"final canonical {final} != {want_final}")
    metrics = _pipeline_metrics(out, ld) | _query_metrics(ld.read_s, ld.read_cpu_s)
    b.notes.update(reads=len(ld.read_s))

    layers = {}
    if b.tracer is not None:
        # replay the second group layer by layer on a copy of what the
        # first group left
        n, traced = land_traced(b, events_dir, groups[0] + groups[1], replay, "pandas",
                                converted_before=len(groups[0]))
        b.tally.record(n == final, f"traced landing {n} != {final}")
        layers = _trace_summary(b, _lag(ld), traced, http=[])
    return metrics, layers


def _build(b: Bench, events_dir: str, events) -> tuple[str, Landing]:
    """A full build into fresh directories, checked against the counts
    the events predict."""
    want, want_canon = _expected_counts(events)
    out = b.fresh("build")
    ld = land(b, events_dir, None, out, "native")
    b.tally.record(ld.converted.converted_triples == want,
                   f"converted {ld.converted.converted_triples} != {want}")
    b.tally.record(ld.canonical.converted_triples == want_canon,
                   f"canonical {ld.canonical.converted_triples} != {want_canon}")
    return out, ld


def build_serve(b: Bench) -> tuple[dict, dict]:
    """The set-up builds the graph (the warm-up) and serves one request
    per class. The measured part serves that graph for ``--seconds``, then
    builds it again; serving first gives the JIT longer to settle before
    the build is timed (a build right after the warm-up runs up to a
    third slower than later ones)."""
    built = []
    events_dir, events = _setup(b, lambda d, ev: built.append(_build(b, d, ev)))
    (served, first), = built
    answers = oracle.Answers(oracle.read_table(f"{served}/canon"))
    turns = inputs.conversation_turns(events)
    plan = inputs.request_plan(b.seed, turns, PLAN_REQUESTS)
    server = Server(first.service)
    try:
        t0 = time.perf_counter()
        for req in inputs.request_plan(b.seed + 2, turns, WARMUP_REQUESTS):
            ask(b, server, answers, req)
        b.setup_s += time.perf_counter() - t0
        if b.tracer is None:
            served_times = _serve_window(b, server, answers, plan)
        out, ld = _build(b, events_dir, events)
        metrics, layers = _pipeline_metrics(out, ld), {}
        if b.tracer is None:
            metrics |= _query_metrics(*served_times)
        else:
            layers = _trace_build_serve(b, events_dir, ld, server, answers, plan)
    finally:
        server.close()
    return metrics, layers


def _serve_window(b: Bench, server: Server, answers: oracle.Answers,
                  plan: list) -> tuple[list[float], list[float]]:
    """The closed loop: request after request for ``--seconds``, in whole
    blocks so every run serves the same class mix. Returns each request's
    (seconds, CPU-seconds) as two lists."""
    seconds, cpu, block = [], [], len(inputs.CLASSES)
    t0 = time.perf_counter()
    while len(seconds) % block or len(seconds) < MIN_REQUESTS or time.perf_counter() - t0 < b.seconds:
        s, c = ask(b, server, answers, plan[len(seconds) % len(plan)])
        seconds.append(s)
        cpu.append(c)
    b.notes.update(requests=len(seconds))
    return seconds, cpu


def _trace_build_serve(b: Bench, events_dir: str, ld: Landing, server: Server,
                       answers: oracle.Answers, plan: list) -> dict:
    """Replay the build and the first TRACED_REQUESTS requests layer by
    layer; each request is also sent over HTTP, untraced, for reference."""
    n, traced = land_traced(b, events_dir, None, b.fresh("traced"), "native", 0)
    b.tally.record(n == ld.canonical.converted_triples, f"traced build {n}")
    untraced, http = _lag(ld), []
    for req in plan[:TRACED_REQUESTS]:
        cls = req[0]
        h, _ = ask(b, server, answers, req)
        body, r = query_traced(b, ld.service, cls, inputs.query_text(*req))
        ok = oracle.matches(cls, oracle.normalize(cls, body), answers.expected(*req))
        b.tally.record(ok, f"traced {req}")
        untraced += h
        traced += r
        http.append(h - r)
    return _trace_summary(b, untraced, traced, http)


def _pipeline_metrics(out: str, ld: Landing) -> dict[str, float]:
    """The pipeline's end-to-end numbers for the measured landing (or
    build) into ``out``."""
    n = ld.canonical.converted_triples
    return {
        "convert_s": ld.convert_s,
        "canonicalize_s": ld.canonicalize_s,
        "build_triples_per_s": n / (ld.convert_s + ld.canonicalize_s),
        "build_triples_per_cpu_s": n / (ld.convert_cpu_s + ld.canonicalize_cpu_s),
        "bytes_per_triple": _parquet_files(f"{out}/canon")[1] / n,
        "landing_lag_max_s": _lag(ld),
        "landing_cpu_s": (ld.lag_cpu_s if ld.lag_cpu_s is not None else
                          ld.convert_cpu_s + ld.canonicalize_cpu_s + sum(ld.read_cpu_s)),
    }


def _lag(ld: Landing) -> float:
    """The landing's lag; one never answered correctly (already a failed
    op) counts as the time until its last read (likewise its CPU-seconds)."""
    return ld.lag_s if ld.lag_s is not None else ld.convert_s + ld.canonicalize_s + sum(ld.read_s)


def _trace_summary(b: Bench, untraced: float, traced: float, http: list[float]) -> dict:
    layers = layer_metrics(b.tracer.spans)
    if http:
        layers["rest.http.ms"] = 1e3 * median(http)
    layers["trace.coverage"] = layer_seconds(b.tracer.spans) / untraced
    layers["trace.overhead"] = traced - untraced
    return layers


WORKLOADS = {"landings": landings, "build_serve": build_serve}
