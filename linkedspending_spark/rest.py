"""HTTP binding for the serving surfaces (Rest.java analog, stdlib-only).

The reference exposes its catalog, jobs, and graph reads over REST
(Rest.java:30-240 — ``/datasets`` with a 5 s TTL cache, ``/jobs``,
job-state links; GrizzlyHttpUtil.java:17-36 hosts it on Grizzly). The
engine's equivalents are library DataFrames (``serve.match`` /
``sparql.select_text``, ``jobs.list_runs``, the manifest store); this module
binds them to HTTP with nothing but ``http.server`` so a switching user
gets the same operational surface without any web framework.

Responses are JSON (the Spark-era choice; the reference emitted hand-
built HTML tables). Every endpoint is a bounded driver-side collect:
``limit`` is capped at ``max_rows``, so request cost is O(limit) driver
traffic over a pushed-down distributed scan — the heavy lifting (filter
pushdown, partition pruning, BGP join ordering) happens in the cluster,
exactly like any other driver program. The server thread-pool shares
one SparkSession; Spark queries are thread-safe across concurrent
requests.

Endpoints::

    GET  /                 service index (Rest.java:233-240 root node)
    GET  /health           liveness probe
    GET  /datasets         per-dataset manifest rollup, TTL-cached; HTML
                           table under Accept: text/html (Rest.java:120)
    POST /datasets/delete  {"names": [...]} — DROP SILENT GRAPH binding
                           (tombstone-first delete_datasets; served only
                           when the service was built with data_path)
                           (Rest.java:120-123 datasets cache analog)
    GET  /jobs             jobs.list_runs rollup (one row per run)
    GET  /jobs/active      this process's in-flight submissions; RUNNING
                           entries carry task-level progress from the
                           statusTracker (Job.java:43-45 percent analog)
    GET  /jobs/{id}        one submission's state (Job.java:130 analog)
    GET|POST /jobs/removeinactive  prune finished/failed/cancelled
                           submissions from the in-process table
                           (Job.java:104 analog; persisted history
                           untouched)
    POST /jobs/convert     {"input": <transcripts parquet>, "output": ...,
                           "manifests": ..., "n_buckets": N,
                           "timeout_sec": T?, ...}
                           run_transcripts_job on a worker thread
                           (Rest.java /control/convertcomplete analog);
                           timeout_sec = an opt-in worker watchdog, the
                           Boss.java:87-88 future.get(1, HOURS) analog:
                           on expiry the job group cancels and the
                           submission lands FAILED with a resume pointer
    POST /jobs/cancel/ID   cancel a running submission via Spark's job
                           group (Rest.java /control/stopconvert analog
                           — safe: the manifest committed only finished
                           buckets, so a resubmit resumes, Rest.java's
                           own stop deletes unfinished datasets)
    GET  /jobs/history/ID  one run's persisted lifecycle transition
                           trail (Job.java:244-306 history analog)
    GET  /feed             RSS 2.0 of recent job events across runs
                           (NewsFeedWriter.java / EventNotification
                           analog)
    GET  /triples?s=&p=&o=&dataset=&limit=   serve.match pattern read
    GET  /sparql?query=    W3C SPARQL-protocol GET binding; the result
                           serialization content-negotiates on Accept:
                           sparql-results+json (default), +xml,
                           text/csv, text/tab-separated-values
                           (sparql11-results-csv-tsv); graphs answer
                           application/n-triples
    POST /sparql           {"query": "select ?d ?m {?d a qb:DataSet. ...}"}
                           textual SPARQL (sparql.select_text dialect);
                           pass "format": "w3c" for sparql-results+json,
                           "xml"/"csv"/"tsv" for the other W3C
                           serializations
"""

from __future__ import annotations

import json
import re
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .serve import bgp_stats, match


class RestService:
    """Query-side state shared by every request: one SparkSession, the
    triple table, the store paths, the BGP stats table, and the
    ``/datasets`` TTL cache."""

    def __init__(
        self,
        spark: SparkSession,
        triples: DataFrame | None = None,
        manifest_path: str | None = None,
        metrics_path: str | None = None,
        max_rows: int = 1000,
        datasets_ttl_sec: float = 5.0,
        with_stats: bool = True,
        data_path: str | None = None,
    ):
        self.spark = spark
        self.triples = triples
        self.manifest_path = manifest_path
        self.metrics_path = metrics_path
        #: dataset-partitioned triple store root — enables the
        #: POST /datasets/delete binding (None = deletion not served)
        self.data_path = data_path
        self.max_rows = max_rows
        self.datasets_ttl_sec = datasets_ttl_sec
        # one-time selectivity table for BGP join ordering (serve.bgp_stats)
        self.stats = (
            bgp_stats(triples) if (triples is not None and with_stats) else None
        )
        self._datasets_cache: tuple[float, list] | None = None
        self._cache_lock = threading.Lock()
        # in-flight job submissions: id → {state, group, thread, report}
        self._jobs: dict[str, dict] = {}
        self._jobs_lock = threading.Lock()
        self._job_seq = 0

    # -- endpoint bodies (each returns a JSON-serializable value) ----------

    def index(self) -> dict:
        out = {
            "datasets": "/datasets",
            "jobs": "/jobs",
            "jobs_active": "/jobs/active",
            "convert": "POST /jobs/convert",
            "cancel": "POST /jobs/cancel/{id}",
            "job_status": "/jobs/{id}",
            "remove_inactive": "/jobs/removeinactive",
            "history": "/jobs/history/{run_id}",
            "feed": "/feed (RSS 2.0 of recent job events)",
            "triples": "/triples?s=&p=&o=&dataset=&limit=",
            "sparql": "POST /sparql (JSON) or GET /sparql?query= (W3C)",
            "health": "/health",
        }
        if self.data_path is not None:
            out["delete"] = 'POST /datasets/delete {"names": [...]}'
        return out

    def _bounded_rows(self, df: DataFrame, limit: int | None = None) -> list:
        """THE single point where a DataFrame crosses into driver memory
        for an HTTP response. Every endpoint collects through here, so
        no endpoint can return more than ``max_rows`` rows regardless of
        a crafted body — the bound is applied AT the collect, not left
        to each route's own discipline (pytest-gated)."""
        n = self.max_rows if limit is None else min(limit, self.max_rows)
        return [r.asDict() for r in df.limit(n).collect()]

    def datasets(self) -> list:
        """Per-dataset manifest rollup with the reference's TTL cache
        (Rest.java:37-40,123: datasetsLastFetched + DATASETS_TTL)."""
        with self._cache_lock:
            now = time.monotonic()
            if (
                self._datasets_cache is not None
                and now - self._datasets_cache[0] < self.datasets_ttl_sec
            ):
                return self._datasets_cache[1]
        if self.manifest_path is None:
            raise _HttpError(404, "no manifest store configured")
        from .sources.manifest import ManifestStore

        out = self._bounded_rows(
            ManifestStore(self.spark, self.manifest_path)
            .read()
            .where(~F.col("dataset").startswith("__"))
            .groupBy("dataset")
            .agg(
                F.max("version").alias("version"),
                F.sum("n_rows").alias("n_rows"),
                F.sum("n_triples").alias("n_triples"),
                F.max("finished_at").alias("finished_at"),
                F.count(F.lit(1)).alias("n_commits"),
                # latest-row-wins (the manifest's log-structured read):
                # a dataset whose newest row is a deletion tombstone is
                # GONE from the listing, like the dropped named graph
                F.max(
                    F.struct("finished_at", "run_id", "version")
                ).alias("__last"),
            )
            .where(F.col("__last.version") >= 0)
            .drop("__last")
            .orderBy("dataset")
        )
        with self._cache_lock:
            self._datasets_cache = (time.monotonic(), out)
        return out

    def jobs(self) -> list:
        if self.manifest_path is None:
            raise _HttpError(404, "no manifest store configured")
        from .jobs import list_runs

        return self._bounded_rows(
            list_runs(self.spark, self.manifest_path, self.metrics_path)
        )

    def triples_read(self, qs: dict) -> list:
        if self.triples is None:
            raise _HttpError(404, "no triple table configured")

        def one_or_many(key):
            vals = qs.get(key)
            if not vals:
                return None
            return vals[0] if len(vals) == 1 else vals

        limit = _client_int(qs.get("limit", [100])[0], "limit", self.max_rows)
        df = match(
            self.triples,
            s=one_or_many("s"),
            p=one_or_many("p"),
            o=one_or_many("o"),
            dataset=qs.get("dataset", [None])[0],
            manifest_path=self.manifest_path,
        )
        return self._bounded_rows(df, limit)

    def sparql(self, body: dict):
        if self.triples is None:
            raise _HttpError(404, "no triple table configured")
        # W3C output types each binding from the data: with_kinds threads
        # o_kind/o_datatype/o_lang through as <v>__kind companions.
        # "w3c" = sparql-results+json; "xml"/"csv"/"tsv" = the other
        # spec'd serializations (content-negotiated on the GET binding)
        fmt = body.get("format")
        w3c = fmt in ("w3c", "xml", "csv", "tsv")
        if not body.get("query"):
            raise _HttpError(400, "body needs 'query' (SPARQL text)")
        # textual SPARQL (Sparql.java:26-29 analog)
        from .sparql import SparqlSyntaxError, parse_select, select_text

        try:
            p = parse_select(body["query"])
            # W3C protocol dataset parameters OVERRIDE the query's
            # own FROM/FROM NAMED (sparql11-protocol 2.1.4)
            dgu = body.get("default_graph_uri")
            ngu = body.get("named_graph_uri")
            if dgu is not None or ngu is not None:
                p.from_graphs = list(dgu or [])
                p.from_named = list(ngu or [])
            df = select_text(
                self.triples,
                body["query"],
                stats=self.stats,
                limit_cap=self.max_rows,
                parsed=p,
                with_kinds=w3c,
            )
        except (SparqlSyntaxError, ValueError) as e:
            raise _HttpError(400, str(e)) from e
        if p.ask:
            answer = bool(df.take(1))
            if fmt == "xml":
                return _Raw(
                    '<?xml version="1.0"?>\n<sparql xmlns="http://'
                    'www.w3.org/2005/sparql-results#"><head/>'
                    f"<boolean>{str(answer).lower()}</boolean>"
                    "</sparql>\n",
                    RESULT_CTYPES["xml"],
                )
            if fmt in ("csv", "tsv"):
                raise _HttpError(
                    400,
                    "ASK has no CSV/TSV serialization — use JSON "
                    "or XML",
                )
            if w3c:
                return _Raw(
                    json.dumps({"head": {}, "boolean": answer}),
                    RESULT_CTYPES["w3c"],
                )
            return {"ask": answer}
        if p.construct is not None or p.describe is not None:
            # CONSTRUCT/DESCRIBE answer a GRAPH: W3C clients get
            # N-Triples (the protocol's RDF response; format "nt"
            # works too), JSON clients get the triple-table rows
            if w3c or fmt in ("nt", "ttl") or body.get("format") == "nt":
                from .functions.nt import nt_statement

                d = df
                if "o_kind" not in d.columns:  # kinds-less table
                    d = (
                        d.withColumn(
                            "o_kind",
                            F.when(
                                F.col("o").startswith("http://")
                                | F.col("o").startswith("https://"),
                                F.lit("uri"),
                            ).otherwise(F.lit("literal")),
                        )
                        .withColumn(
                            "o_datatype", F.lit(None).cast("string")
                        )
                        .withColumn("o_lang", F.lit(None).cast("string"))
                    )
                lines = self._bounded_rows(
                    d.select(nt_statement().alias("nt"))
                )
                return _Raw(
                    "".join(r["nt"] + "\n" for r in lines),
                    "text/turtle; charset=utf-8"
                    if fmt == "ttl"
                    else "application/n-triples; charset=utf-8",
                )
            return self._bounded_rows(df)
        rows = self._bounded_rows(df)
        if fmt in ("xml", "csv", "tsv"):
            return _serialize_results(fmt, df.columns, rows)
        if w3c:
            # served under the spec's media type (stock clients sniff
            # it), not generic application/json
            return _Raw(
                json.dumps(_w3c_results(df.columns, rows)),
                RESULT_CTYPES["w3c"],
            )
        return rows

    # -- job control (Rest.java /control/* analog) --------------------------

    def _progress_of(self, group: str) -> dict | None:
        """Task-level progress for a RUNNING submission — the
        Job.java:43-45 percent-counter analog, read from Spark's own
        statusTracker for the submission's job group (driver-side
        metadata, no job launched). None when nothing is in flight
        (between Spark jobs / before the first one)."""
        try:
            tracker = self.spark.sparkContext.statusTracker()
            done = total = 0
            for job_id in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(job_id)
                if info is None or str(info.status) != "RUNNING":
                    continue
                for sid in info.stageIds:
                    s = tracker.getStageInfo(sid)
                    if s is None:
                        continue
                    done += s.numCompletedTasks
                    total += s.numTasks
            if total == 0:
                return None
            return {
                "tasks_done": done,
                "tasks_total": total,
                "percent": round(100.0 * done / total, 1),
            }
        except Exception:  # tracker races with session shutdown
            return None

    def jobs_active(self) -> list:
        with self._jobs_lock:
            rows = [
                {
                    "job": jid,
                    "state": e["state"],
                    "kind": e["kind"],
                    "run_id": e.get("run_id"),
                    "group": e.get("group"),
                    # a CANCELLED state flips at cancel time; the worker
                    # may still be unwinding — this says when it is done
                    "thread_alive": (
                        e.get("thread") is not None and e["thread"].is_alive()
                    ),
                    "report": e.get("report"),
                    "error": e.get("error"),
                }
                for jid, e in sorted(self._jobs.items())
            ]
        for r in rows:  # outside the lock: statusTracker RPC-ish reads
            if r["state"] == "RUNNING" and r["group"]:
                r["progress"] = self._progress_of(r["group"])
            r.pop("group", None)
        return rows

    def job_status(self, jid: str) -> dict:
        """GET /jobs/{id}: one submission's state (the Job.java:130
        ``/jobs/{datasetname}`` analog, keyed by submission id)."""
        with self._jobs_lock:
            e = self._jobs.get(jid)
            if e is None:
                raise _HttpError(404, f"no job {jid!r}")
            return {
                "job": jid,
                "state": e["state"],
                "kind": e["kind"],
                "run_id": e.get("run_id"),
                "thread_alive": (
                    e.get("thread") is not None and e["thread"].is_alive()
                ),
                "report": e.get("report"),
                "error": e.get("error"),
            }

    def datasets_delete(self, body: dict) -> dict:
        """POST /datasets/delete {"names": [...]} — the named-graph
        delete over HTTP (Virtuoso.java:39-49 ``DROP SILENT GRAPH``;
        the surface the SPARQL ``DROP`` refusal points at). Tombstone
        commits first, then the dataset partitions unlink
        (:func:`~linkedspending_spark.sources.io.delete_datasets`).
        Deliberately narrower than the CLI: no delete-all binding —
        catalog-wide destruction stays behind ``run_pipeline.py
        --delete-all --yes``."""
        if self.data_path is None:
            raise _HttpError(
                404,
                "deletion is not served (RestService has no data_path)",
            )
        names = body.get("names")
        if (
            not isinstance(names, list)
            or not names
            or not all(isinstance(n, str) and n for n in names)
        ):
            raise _HttpError(
                400, "'names' must be a non-empty list of dataset names"
            )
        from .sources.io import delete_datasets

        removed = delete_datasets(
            self.data_path,
            names,
            manifest_path=self.manifest_path,
            spark=self.spark if self.manifest_path else None,
        )
        with self._cache_lock:  # the /datasets listing changed
            self._datasets_cache = None
        return {
            "removed_partitions": removed,
            "tombstoned": sorted(names) if self.manifest_path else [],
        }

    def job_remove_inactive(self) -> dict:
        """``/jobs/removeinactive`` (Job.java:104): drop submission
        entries whose work is over — any non-RUNNING state with no
        live worker thread (a CANCELLED entry still unwinding its
        worker survives until the thread exits). The persisted run
        history (manifests + metrics) is untouched; this prunes only
        the in-process tracking table."""
        removed = []
        with self._jobs_lock:
            for jid, e in list(self._jobs.items()):
                alive = (
                    e.get("thread") is not None and e["thread"].is_alive()
                )
                if e["state"] != "RUNNING" and not alive:
                    removed.append(jid)
                    del self._jobs[jid]
        return {"removed": sorted(removed)}

    def job_history(self, run_id: str) -> list:
        """GET /jobs/history/{run_id}: the run's persisted lifecycle
        transition trail (jobs.job_history — Job.java:244-306 history +
        NewsFeedWriter feed analog). Reads the service's configured
        metrics store, so it survives process restarts."""
        if self.metrics_path is None:
            raise _HttpError(404, "no metrics store configured")
        from .jobs import job_history

        rows = self._bounded_rows(
            job_history(self.spark, self.metrics_path, run_id)
        )
        if not rows:
            raise _HttpError(404, f"no history for run {run_id!r}")
        return rows

    def feed(self) -> str:
        """GET /feed: RSS 2.0 over the most recent job lifecycle events
        across ALL runs (the reference's NewsFeedWriter.java RSS +
        EventNotificationContainer analog — there a rome-library file
        dump, here rendered from the persisted history rows)."""
        if self.metrics_path is None:
            raise _HttpError(404, "no metrics store configured")
        from email.utils import formatdate
        from xml.sax.saxutils import escape

        from .jobs import recent_history

        rows = self._bounded_rows(
            recent_history(self.spark, self.metrics_path)
        )

        def item(r: dict) -> str:
            title = escape("run {}: {}".format(r["run_id"], r["event"]))
            guid = escape("{}/{}".format(r["run_id"], r["seq"]))
            return (
                "<item>"
                f"<title>{title}</title>"
                f"<description>{escape(r['detail'] or '')}</description>"
                f'<guid isPermaLink="false">{guid}</guid>'
                f"<pubDate>{formatdate(r['ts'])}</pubDate>"
                "</item>"
            )

        items = "".join(item(r) for r in rows)
        return (
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<rss version="2.0"><channel>'
            "<title>linkedspending_spark job events</title>"
            "<link>/jobs</link>"
            "<description>Job lifecycle transitions, newest first"
            "</description>"
            f"{items}</channel></rss>"
        )

    def job_convert(self, body: dict) -> dict:
        """Submit a convert run (Rest.java /control/convertcomplete —
        there gated on manual mode; here every run is explicit). The
        job runs ``run_transcripts_job`` on a worker thread inside its
        own Spark job group so it is cancellable; resume semantics come
        from the manifest store, exactly like the CLI path."""
        for req in ("input", "output", "manifests"):
            if not body.get(req):
                raise _HttpError(400, f"body needs {req!r}")
        n_buckets = _client_int(body.get("n_buckets", 64), "n_buckets")
        if n_buckets == 0:
            raise _HttpError(400, "'n_buckets' must be positive")
        # optional worker timeout — the Boss.java:87-88 analog
        # (``future.get(1, HOURS)`` → FAILED). Opt-in rather than a
        # fixed hour: a 100-TB convert legitimately runs longer, and
        # committed buckets make a timed-out run RESUMABLE anyway
        # (pass 3600 to reproduce the reference's bound).
        timeout_sec = body.get("timeout_sec")
        if timeout_sec is not None:
            timeout_sec = _client_int(timeout_sec, "timeout_sec")
            if timeout_sec == 0:
                raise _HttpError(400, "'timeout_sec' must be positive")
        from .sources.manifest import new_run_id

        # minted HERE so the lifecycle history (GET /jobs/history/{run})
        # is addressable from the submit response onward, across restarts
        run_id = new_run_id()
        metrics_path = body.get("metrics", self.metrics_path)
        with self._jobs_lock:
            self._job_seq += 1
            jid = f"j{self._job_seq:04d}"
            group = f"rest-{jid}"
            entry = {
                "state": "RUNNING",
                "kind": "convert",
                "group": group,
                "run_id": run_id,
            }
            self._jobs[jid] = entry

        def _cancelled() -> bool:
            # any terminal transition (client cancel, watchdog timeout)
            # stops the runner at its next phase boundary
            with self._jobs_lock:
                return entry["state"] != "RUNNING"

        watchdog: threading.Timer | None = None
        if timeout_sec is not None:
            def _timed_out() -> None:
                with self._jobs_lock:
                    if entry["state"] != "RUNNING":
                        return  # already terminal — nothing to do
                    entry["state"] = "FAILED"
                    entry["error"] = (
                        f"worker timeout after {timeout_sec}s "
                        "(Boss.java:87-88 analog); committed buckets "
                        "are in the manifest — resubmit to resume"
                    )
                # outside the lock: Spark RPC, like job_cancel
                self.spark.sparkContext.cancelJobGroup(group)

            watchdog = threading.Timer(timeout_sec, _timed_out)
            watchdog.daemon = True

        def _keep_report(report) -> None:
            entry["report"] = {
                "run_id": report.run_id,
                "state": report.state,
                "pending": report.pending,
                "skipped": report.skipped,
                "converted_triples": report.converted_triples,
                "seconds": report.seconds,
            }

        def _run() -> None:
            from .jobs import JobCancelled, run_transcripts_job

            sc = self.spark.sparkContext
            # job-group is a thread-local property: every Spark job this
            # worker thread launches is cancellable as one unit. A cancel
            # can also land BETWEEN Spark jobs (cancelJobGroup only
            # interrupts jobs running at that instant), so the runner
            # additionally polls should_stop at phase boundaries, the
            # last one just before it returns. A runner that returns
            # saw no stop, so its outcome stands over a later watchdog;
            # only a client's CANCELLED is kept. A stopped runner's
            # report (what it committed) is kept beside the stop state.
            sc.setJobGroup(group, f"rest convert {jid}", interruptOnCancel=True)
            if watchdog is not None:
                watchdog.start()
            try:
                transcripts = self.spark.read.parquet(body["input"])
                report = run_transcripts_job(
                    self.spark,
                    transcripts,
                    out_path=body["output"],
                    manifest_path=body["manifests"],
                    n_buckets=n_buckets,
                    with_mentions=bool(body.get("with_mentions", True)),
                    metrics_path=metrics_path,
                    should_stop=_cancelled,
                    run_id=run_id,
                    # the reference's forceConvert toggle + ?force=
                    # param (Job.java:144,156): re-convert every bucket
                    force=bool(body.get("force", False)),
                )
                with self._jobs_lock:
                    _keep_report(report)
                    if entry["state"] != "CANCELLED":
                        entry["state"] = report.state
                        entry.pop("error", None)
            except JobCancelled as stop:
                # terminal state already set by cancel/watchdog
                with self._jobs_lock:
                    _keep_report(stop.report)
            except Exception as e:  # noqa: BLE001 — surfaced via /jobs/active
                with self._jobs_lock:
                    if entry["state"] == "RUNNING":
                        entry["state"] = "FAILED"
                        entry["error"] = f"{type(e).__name__}: {e}"[:500]
            finally:
                if watchdog is not None:
                    watchdog.cancel()
                try:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                except Exception:  # session already stopped (shutdown race)
                    pass

        t = threading.Thread(target=_run, daemon=True, name=group)
        entry["thread"] = t
        t.start()
        return {
            "job": jid,
            "state": "RUNNING",
            "run_id": run_id,
            "cancel": f"/jobs/cancel/{jid}",
            "history": f"/jobs/history/{run_id}",
        }

    def job_cancel(self, jid: str) -> dict:
        """Rest.java /control/stopconvert analog. Cancels the
        submission's Spark job group; already-committed buckets stay in
        the manifest, so a resubmit resumes instead of recomputing —
        strictly safer than the reference's stop (which deletes
        unfinished datasets)."""
        with self._jobs_lock:
            entry = self._jobs.get(jid)
            if entry is None:
                raise _HttpError(404, f"no job {jid!r}")
            cancel_now = entry["state"] == "RUNNING"
            if cancel_now:
                entry["state"] = "CANCELLED"
            state = entry["state"]
        if cancel_now:
            # outside the lock: Spark RPC; the worker also polls the
            # CANCELLED state at phase boundaries (should_stop hook)
            self.spark.sparkContext.cancelJobGroup(entry["group"])
        return {"job": jid, "state": state}


def _w3c_results(cols: list, rows: list) -> dict:
    """Solutions in the W3C ``application/sparql-results+json`` shape
    (https://www.w3.org/TR/sparql11-results-json/) so stock SPARQL
    client libraries can consume the endpoint. NULL = unbound = the
    variable is omitted from the binding, per the spec.

    Term typing comes from the DATA when the solution carries
    ``<v>__kind``/``<v>__datatype``/``<v>__lang`` companion columns
    (the triple table's own ``o_kind`` metadata, threaded through by
    ``with_kinds`` — so a literal whose lexical form is a URL is still
    a ``literal``, and a typed literal keeps its datatype / language
    tag). Aggregates and expressions are typed by their Python result
    type. Only a value with NO metadata (VALUES/BIND-born variables on
    the algebra path) falls back to the ``http(s)://`` prefix
    heuristic."""
    from .serve import _is_companion

    var_cols = [c for c in cols if not _is_companion(c)]

    def binding(r: dict) -> dict:
        return {
            k: _w3c_term(
                r[k],
                r.get(k + "__kind"),
                r.get(k + "__datatype"),
                r.get(k + "__lang"),
            )
            for k in var_cols
            if r.get(k) is not None
        }

    return {
        "head": {"vars": var_cols},
        "results": {"bindings": [binding(r) for r in rows]},
    }


def _w3c_term(v, kind=None, datatype=None, lang=None) -> dict:
    """One RDF term in the sparql-results+json binding shape — shared
    by the JSON/XML/TSV serializers (typing rules in _w3c_results)."""
    if isinstance(v, bool):
        return {"type": "literal", "value": str(v).lower(),
                "datatype": "http://www.w3.org/2001/XMLSchema#boolean"}
    if isinstance(v, int):
        return {"type": "literal", "value": str(v),
                "datatype": "http://www.w3.org/2001/XMLSchema#integer"}
    if isinstance(v, float):
        return {"type": "literal", "value": repr(v),
                "datatype": "http://www.w3.org/2001/XMLSchema#double"}
    v = str(v)
    if kind == "uri":
        return {"type": "uri", "value": v}
    if kind == "literal":
        out = {"type": "literal", "value": v}
        if datatype:
            out["datatype"] = datatype
        if lang:
            out["xml:lang"] = lang
        return out
    if v.startswith(("http://", "https://")):  # no metadata: heuristic
        return {"type": "uri", "value": v}
    return {"type": "literal", "value": v}


#: result serializations the endpoint speaks, by short format name
RESULT_CTYPES = {
    "w3c": "application/sparql-results+json",
    "xml": "application/sparql-results+xml; charset=utf-8",
    "csv": "text/csv; charset=utf-8",
    "tsv": "text/tab-separated-values; charset=utf-8",
}


def _accept_format(accept: str | None) -> str:
    """Pick the result format from an Accept header — first supported
    media range in header order wins; anything else (including ``*/*``
    and no header) falls back to the protocol default, JSON."""
    for part in (accept or "").split(","):
        mt = part.split(";", 1)[0].strip().lower()
        if mt in ("application/sparql-results+json", "application/json"):
            return "w3c"
        if mt in (
            "application/sparql-results+xml",
            "application/xml",
            "text/xml",
        ):
            return "xml"
        if mt == "text/csv":
            return "csv"
        if mt == "text/tab-separated-values":
            return "tsv"
        if mt == "application/n-triples":
            return "nt"
        if mt == "text/turtle":
            # N-Triples is syntactically valid Turtle — same body,
            # Turtle media type for clients that only accept it
            return "ttl"
    return "w3c"


def _serialize_results(fmt: str, cols: list, rows: list) -> "_Raw":
    """Solutions in the W3C XML / CSV / TSV result syntaxes
    (sparql11-results-csv-tsv, rdf-sparql-XMLres)."""
    from .serve import _is_companion

    var_cols = [c for c in cols if not _is_companion(c)]

    def term_of(r, k):
        return _w3c_term(
            r[k], r.get(k + "__kind"), r.get(k + "__datatype"),
            r.get(k + "__lang"),
        )

    if fmt == "xml":
        from xml.sax.saxutils import escape, quoteattr

        out = [
            '<?xml version="1.0"?>\n<sparql xmlns='
            '"http://www.w3.org/2005/sparql-results#">\n<head>'
        ]
        out += [f"<variable name={quoteattr(v)}/>" for v in var_cols]
        out.append("</head>\n<results>\n")
        for r in rows:
            out.append("<result>")
            for k in var_cols:
                if r.get(k) is None:
                    continue
                t = term_of(r, k)
                val = escape(t["value"])
                if t["type"] == "uri":
                    body = f"<uri>{val}</uri>"
                elif "datatype" in t:
                    body = (
                        f"<literal datatype={quoteattr(t['datatype'])}>"
                        f"{val}</literal>"
                    )
                elif "xml:lang" in t:
                    body = (
                        f"<literal xml:lang={quoteattr(t['xml:lang'])}>"
                        f"{val}</literal>"
                    )
                else:
                    body = f"<literal>{val}</literal>"
                out.append(f"<binding name={quoteattr(k)}>{body}</binding>")
            out.append("</result>\n")
        out.append("</results>\n</sparql>\n")
        return _Raw("".join(out), RESULT_CTYPES["xml"])

    if fmt == "csv":
        # sparql11-results-csv-tsv §4: plain lexical values, no term
        # syntax; RFC 4180 quoting; unbound = empty field; CRLF rows
        def cell(r, k):
            if r.get(k) is None:
                return ""
            v = term_of(r, k)["value"]
            if any(c in v for c in ',"\n\r'):
                return '"' + v.replace('"', '""') + '"'
            return v

        lines = [",".join(var_cols)]
        lines += [",".join(cell(r, k) for k in var_cols) for r in rows]
        return _Raw("\r\n".join(lines) + "\r\n", RESULT_CTYPES["csv"])

    # TSV (§3): header vars carry '?', terms in SPARQL syntax — URIs in
    # <>, plain/tagged/typed literals quoted with escapes; numeric xsd
    # types may be written bare (the spec's own allowance)
    _BARE = {
        "http://www.w3.org/2001/XMLSchema#integer",
        "http://www.w3.org/2001/XMLSchema#decimal",
        "http://www.w3.org/2001/XMLSchema#double",
        "http://www.w3.org/2001/XMLSchema#boolean",
    }

    def tsv_term(r, k):
        if r.get(k) is None:
            return ""
        t = term_of(r, k)
        if t["type"] == "uri":
            return f"<{t['value']}>"
        if t.get("datatype") in _BARE:
            return t["value"]
        v = (
            t["value"]
            .replace("\\", "\\\\")
            .replace('"', '\\"')
            .replace("\t", "\\t")
            .replace("\n", "\\n")
            .replace("\r", "\\r")
        )
        lit = f'"{v}"'
        if t.get("datatype"):
            lit += f"^^<{t['datatype']}>"
        elif t.get("xml:lang"):
            lit += f"@{t['xml:lang']}"
        return lit

    lines = ["\t".join("?" + v for v in var_cols)]
    lines += ["\t".join(tsv_term(r, k) for k in var_cols) for r in rows]
    return _Raw("\n".join(lines) + "\n", RESULT_CTYPES["tsv"])


class _HttpError(Exception):
    def __init__(self, status: int, message: str):
        self.status, self.message = status, message


class _Raw:
    """A non-JSON 200 body (N-Triples, RSS, HTML); errors stay JSON."""

    def __init__(self, text: str, ctype: str):
        self.text, self.ctype = text, ctype


def _datasets_as_html(rows: list) -> str:
    """The reference's color-coded /datasets table (Rest.java:135-143
    legend + per-dataset rows). Its four freshness colors compare
    source timestamps against converted ones; this engine's manifest
    rollup maps onto the two that exist here: current transformation
    version (lightgreen, 'converted and up to date') vs an older one
    (lightblue, 'uses an old transformation model')."""
    import html as _h

    from .model import TRANSFORMATION_VERSION

    out = [
        '<meta charset="UTF-8"><html><body>',
        "Color Code Legend: "
        "<span style='background-color:lightgreen'>converted, current "
        "transformation version</span> "
        "<span style='background-color:lightblue'>converted with an "
        "old transformation model</span>",
        "<table border=1><tr><th>dataset</th><th>version</th>"
        "<th>triples</th><th>commits</th><th>finished</th></tr>",
    ]
    for r in rows:
        version = r.get("version")
        color = (
            "lightgreen"
            if version == TRANSFORMATION_VERSION
            else "lightblue"
        )
        cells = (
            r.get(k)
            for k in ("dataset", "version", "n_triples", "n_commits", "finished_at")
        )
        out.append(
            f"<tr style='background-color:{color}'>"
            + "".join(f"<td>{_h.escape(str(c))}</td>" for c in cells)
            + "</tr>"
        )
    out.append("</table></body></html>")
    return "\n".join(out)


def _client_int(value, name: str, cap: int | None = None) -> int:
    """Client-supplied integer: malformed input is a 400, not a 500
    (int('abc') / None / negatives would otherwise surface as server
    errors from inside Spark)."""
    try:
        n = int(value)
    except (TypeError, ValueError):
        raise _HttpError(400, f"{name!r} must be an integer") from None
    if n < 0:
        raise _HttpError(400, f"{name!r} must be non-negative")
    return min(n, cap) if cap is not None else n


def _make_handler(service: RestService):
    class Handler(BaseHTTPRequestHandler):
        # quiet: don't spam test output with per-request log lines
        def log_message(self, fmt, *args):  # noqa: N802
            pass

        def _reply_raw(self, status: int, body: bytes, ctype: str) -> None:
            self.send_response(status)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _reply(self, status: int, payload) -> None:
            self._reply_raw(
                status,
                json.dumps(payload, default=str).encode("utf-8"),
                "application/json; charset=utf-8",
            )

        def _dispatch(self, fn, ctype: str | None = None) -> None:
            """JSON by default; ``ctype`` makes a 200 a raw text body
            (the /feed RSS path) — errors stay JSON either way."""
            try:
                out = fn()
                if isinstance(out, _Raw):
                    self._reply_raw(200, out.text.encode("utf-8"), out.ctype)
                elif ctype is not None:
                    self._reply_raw(200, str(out).encode("utf-8"), ctype)
                else:
                    self._reply(200, out)
            except _HttpError as e:
                self._reply(e.status, {"error": e.message})
            except Exception as e:  # surface, don't kill the thread
                self._reply(500, {"error": f"{type(e).__name__}: {e}"})

        def do_GET(self) -> None:  # noqa: N802
            url = urlparse(self.path)
            qs = parse_qs(url.query)
            accept_hdr = self.headers.get("Accept", "") or ""
            if url.path == "/datasets" and "text/html" in accept_hdr:
                # the reference's /datasets is TEXT_HTML (Rest.java:120
                # @Produces + the color-coded table): same rollup rows,
                # rendered as a table with the freshness legend mapped
                # onto manifest versions
                self._dispatch(
                    lambda: _Raw(
                        _datasets_as_html(service.datasets()),
                        "text/html; charset=utf-8",
                    )
                )
                return
            routes = {
                "/": service.index,
                # the reference's listcommands self-description
                # (Rest.java:48) — same payload as the index
                "/listcommands": service.index,
                "/health": lambda: {"ok": True},
                "/datasets": service.datasets,
                "/jobs": service.jobs,
                "/jobs/active": service.jobs_active,
                "/triples": lambda: service.triples_read(qs),
            }
            if url.path == "/feed":
                self._dispatch(
                    service.feed, ctype="application/rss+xml; charset=utf-8"
                )
                return
            if url.path == "/sparql":
                # W3C SPARQL-protocol GET binding: ?query=..., response
                # format content-negotiated from Accept (JSON default;
                # XML/CSV/TSV per sparql11-results-* specs)
                fmt = _accept_format(self.headers.get("Accept"))

                def _sparql_get():
                    q = qs.get("query", [None])[0]
                    if not q:
                        raise _HttpError(400, "GET /sparql needs ?query=")
                    body = {"query": q, "format": fmt}
                    # protocol dataset parameters (2.1.4)
                    if "default-graph-uri" in qs:
                        body["default_graph_uri"] = qs["default-graph-uri"]
                    if "named-graph-uri" in qs:
                        body["named_graph_uri"] = qs["named-graph-uri"]
                    return service.sparql(body)

                self._dispatch(_sparql_get)
                return
            fn = routes.get(url.path)
            if fn is None and url.path.startswith("/jobs/history/"):
                run_id = url.path[len("/jobs/history/"):]
                fn = lambda: service.job_history(run_id)  # noqa: E731
            if fn is None and url.path == "/jobs/removeinactive":
                # the reference exposes this as GET (Job.java:104);
                # also accepted as POST below
                fn = service.job_remove_inactive
            if fn is None and re.fullmatch(r"/jobs/[^/]+", url.path):
                jid = url.path[len("/jobs/"):]
                fn = lambda: service.job_status(jid)  # noqa: E731
            if fn is None:
                self._reply(404, {"error": f"no route {url.path}"})
            else:
                self._dispatch(fn)

        def do_POST(self) -> None:  # noqa: N802
            url = urlparse(self.path)
            n = int(self.headers.get("Content-Length", 0))
            raw = self.rfile.read(n)
            ctype = (
                (self.headers.get("Content-Type") or "")
                .split(";")[0]
                .strip()
                .lower()
            )
            if url.path == "/sparql" and ctype in (
                "application/sparql-query",
                "application/x-www-form-urlencoded",
            ):
                # the W3C protocol's two POST request forms (stock
                # SPARQL clients use these, not JSON): a direct query
                # body, or form-encoded query=...; response format
                # content-negotiated from Accept like the GET binding
                fmt = _accept_format(self.headers.get("Accept"))

                def _w3c_post():
                    # protocol dataset params: from the URL query
                    # string (direct-body form) or the form fields
                    params = parse_qs(urlparse(self.path).query)
                    if ctype == "application/sparql-query":
                        q = raw.decode("utf-8")
                    else:
                        form = parse_qs(raw.decode("utf-8"))
                        q = form.get("query", [None])[0]
                        for k in ("default-graph-uri", "named-graph-uri"):
                            if k in form:
                                params[k] = form[k]
                    if not q:
                        raise _HttpError(400, "POST /sparql needs a query")
                    body = {"query": q, "format": fmt}
                    if "default-graph-uri" in params:
                        body["default_graph_uri"] = params["default-graph-uri"]
                    if "named-graph-uri" in params:
                        body["named_graph_uri"] = params["named-graph-uri"]
                    return service.sparql(body)

                self._dispatch(_w3c_post)
                return
            try:
                body = json.loads(raw or b"{}")
            except (ValueError, json.JSONDecodeError):
                self._reply(400, {"error": "body must be JSON"})
                return
            if url.path == "/sparql":
                self._dispatch(lambda: service.sparql(body))
            elif url.path == "/jobs/convert":
                self._dispatch(lambda: service.job_convert(body))
            elif url.path == "/jobs/removeinactive":
                self._dispatch(service.job_remove_inactive)
            elif url.path == "/datasets/delete":
                self._dispatch(lambda: service.datasets_delete(body))
            elif url.path.startswith("/jobs/cancel/"):
                jid = url.path.rsplit("/", 1)[1]
                self._dispatch(lambda: service.job_cancel(jid))
            else:
                self._reply(404, {"error": f"no route {url.path}"})

    return Handler


def make_server(
    service: RestService, host: str = "127.0.0.1", port: int = 0
) -> ThreadingHTTPServer:
    """Build (not start) the HTTP server; ``port=0`` picks a free port
    (``server.server_address[1]`` reports it). Start with
    ``serve_forever()`` — typically on a daemon thread next to the Spark
    driver (GrizzlyHttpUtil.startThisServer analog)::

        server = make_server(RestService(spark, triples, manifest_path))
        threading.Thread(target=server.serve_forever, daemon=True).start()
    """
    return ThreadingHTTPServer((host, port), _make_handler(service))
