"""Resumable KG-construction job runner (Boss/Job/Worker analog).

The reference runs a per-dataset state machine CREATED→RUNNING→
{FINISHED,FAILED} with DOWNLOAD→CONVERT→UPLOAD phases (Job.java:244-306,
WorkerSequence.java:23-34) and schedules work as ``(catalog − done −
active)`` (Boss.java:61-76). Here the unit of work is a **bucket of
conversations** (hash of conv_id) rather than one conversation — at
10^12 turns you cannot run a driver loop per conversation; you run ONE
Spark job over all pending buckets and let partitioning do the rest:

1. bucket = pmod(xxhash64(conv_id), n_buckets) — uniform, skew-free;
2. pending = buckets anti-join manifests (P6/P7 skip predicates);
3. one conversion job over pending buckets, output partitioned by
   bucket with dynamic partition overwrite (idempotent re-run);
4. manifests recorded AFTER the data commit (S7 uploadComplete
   ordering) — a crash between write and record re-runs only those
   buckets, producing byte-identical partitions.

Skew note: bucketing by hash of conv_id spreads mega-conversations'
*datasets* uniformly; within the conversion, the only per-conv_id
shuffle is the dataset-triples aggregation, which AQE skew-split
handles (session defaults), with partial aggregation map-side.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .model import TRANSFORMATION_VERSION
from .operators.convert_transcripts import convert_transcripts
from .sources.io import write_clustered, write_triples
from .sources.manifest import TOMBSTONE_VERSION, ManifestStore, new_run_id


@dataclass
class JobReport:
    run_id: str
    n_buckets: int
    pending: list[int] = field(default_factory=list)
    skipped: int = 0
    converted_triples: int = 0
    seconds: float = 0.0
    state: str = "CREATED"  # CREATED → RUNNING → FINISHED | FAILED


def bucket_of(conv_id_col, n_buckets: int):
    return F.pmod(F.xxhash64(conv_id_col), F.lit(n_buckets)).cast("int")


class JobCancelled(RuntimeError):
    """Raised inside a job runner when its ``should_stop`` hook fires
    at a phase boundary. ``report`` is the run's report, state already
    CANCELLED, with whatever the run committed before the stop."""

    def __init__(self, message: str, report: JobReport):
        super().__init__(message)
        self.report = report


def run_transcripts_job(
    spark: SparkSession,
    transcripts: DataFrame,
    out_path: str,
    manifest_path: str,
    n_buckets: int = 64,
    version: int = TRANSFORMATION_VERSION,
    with_mentions: bool = True,
    mention_mode: str = "native",
    fail_after_write: bool = False,
    metrics_path: str | None = None,
    currencies: DataFrame | None = None,
    countries: DataFrame | None = None,
    should_stop=None,
    run_id: str | None = None,
    force: bool = False,
) -> JobReport:
    """Convert all not-yet-done buckets of ``transcripts`` and materialize.

    ``force`` re-converts EVERY bucket with data, ignoring the
    manifest's done-set (the reference's ``forceConvert`` toggle,
    Job.java:156) — safe because the landing is a dynamic partition
    OVERWRITE (each re-converted bucket partition is replaced, never
    appended) and the manifest's latest-row-wins read makes the new
    rows authoritative.

    ``fail_after_write`` simulates a crash between the data commit and
    the manifest record (for resume tests). ``metrics_path`` appends
    per-stage lineage rows (A5 analog) next to the manifests.
    ``currencies``/``countries`` override the built-in mention
    dictionaries (e.g. the packaged full ISO tables or a user TSV).

    ``should_stop`` — optional zero-arg callable polled at phase
    boundaries (a Spark-level cancelJobGroup only interrupts jobs
    RUNNING at that instant; a cancel landing between jobs would
    otherwise be a no-op). When it returns true BEFORE the write phase
    the run raises :class:`JobCancelled` with state CANCELLED; once the
    write has committed, the manifest record still completes — the
    committed data must be resumable, never orphaned silently — and
    the run is polled once more before it returns, so a stop that
    landed after the write started still ends it CANCELLED; that
    :class:`JobCancelled` carries the report of the committed buckets.
    A run that returns saw no stop.

    ``run_id`` — caller-minted id (e.g. the REST binding, so the
    history is addressable before the report exists); default a fresh
    :func:`new_run_id`.

    With ``metrics_path`` the run additionally persists its lifecycle
    TRANSITIONS (Job.java:244-306 per-job history + the
    EventNotification feed analog) as ``stage='history'`` rows:
    submitted → resume_resolved → [write_start → write_end] → finished
    | failed | cancelled — readable after any restart via
    :func:`job_history`.
    """
    from .sources.metrics import MetricsStore

    store = ManifestStore(spark, manifest_path)
    metrics = MetricsStore(spark, metrics_path) if metrics_path else None
    report = JobReport(run_id=run_id or new_run_id(), n_buckets=n_buckets)
    t0 = time.time()
    report.state = "RUNNING"

    def _event(seq: int, name: str, detail: str | None = None) -> None:
        # Lifecycle history is telemetry with two hard properties: it
        # must SURVIVE cancellation (the trail of a cancelled run is the
        # whole point) and it must never be job-fatal. The tiny parquet
        # append is a Spark job, so it is written OUTSIDE the caller's
        # cancellable job group (a cancelJobGroup landing mid-event
        # would otherwise kill the history write itself), and any
        # failure is swallowed.
        if metrics is None:
            return
        sc = spark.sparkContext
        group = sc.getLocalProperty("spark.jobGroup.id")
        try:
            if group is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            metrics.event(report.run_id, seq, name, detail)
        except Exception:
            pass
        finally:
            if group is not None:
                sc.setLocalProperty("spark.jobGroup.id", group)

    def _check_cancel() -> None:
        if should_stop is not None and should_stop():
            report.state = "CANCELLED"
            raise JobCancelled(f"run {report.run_id} cancelled", report)

    _event(0, "submitted", f"n_buckets={n_buckets}")
    try:
        # resume correctness guard: bucket ids are only comparable across
        # runs when n_buckets matches — a silent mismatch would make the
        # manifest anti-join skip the WRONG buckets. The bucket count is
        # recorded as a config sentinel on the first run and enforced after.
        prior = {
            int(r["n_rows"])
            for r in store.read()
            .where(F.col("dataset") == BUCKETS_SENTINEL)
            .select("n_rows")
            .collect()
        }
        if prior and n_buckets not in prior:
            raise ValueError(
                f"manifest store {manifest_path} was written with "
                f"n_buckets={sorted(prior)}; re-run with the same value or "
                f"use a fresh manifest path (got n_buckets={n_buckets})"
            )
        bucketed = transcripts.withColumn("bucket", bucket_of(F.col("conv_id"), n_buckets))
        work = (
            bucketed.select(F.col("bucket").cast("string").alias("dataset"))
            .distinct()
        )
        if force:
            # forceConvert: every bucket with data re-converts; the
            # dynamic-partition-overwrite landing replaces each one
            pending = sorted(int(r["dataset"]) for r in work.collect())
        else:
            pending = sorted(
                int(r["dataset"])
                for r in store.pending(work, version).collect()
            )
        report.pending = pending
        report.skipped = n_buckets - len(pending)
        _event(
            1,
            "resume_resolved",
            f"pending={len(pending)} skipped={report.skipped}"
            + (" force" if force else ""),
        )
        if pending:
            _check_cancel()  # last pre-write boundary (see docstring)
            _event(2, "write_start", f"buckets={len(pending)}")
            todo = bucketed.where(F.col("bucket").isin(pending))
            triples = convert_transcripts(
                spark,
                todo.drop("bucket"),
                with_mentions=with_mentions,
                mention_mode=mention_mode,
                currencies=currencies,
                countries=countries,
            ).withColumn("bucket", bucket_of(F.col("dataset"), n_buckets))
            # per-bucket counts ride the write pass itself as Observation
            # metrics (one conditional sum per pending bucket) — no
            # post-write recount scan of the committed partitions. Past
            # OBSERVE_MAX_BUCKETS the expression list bloats codegen, so
            # fall back to one columnar read-back of the written
            # partitions (count(*) on parquet footers is metadata-cheap).
            use_observe = len(pending) <= OBSERVE_MAX_BUCKETS
            if use_observe:
                obs = Observation()
                observed = triples.observe(
                    obs,
                    *[
                        F.sum((F.col("bucket") == b).cast("long")).alias(f"b{b}")
                        for b in pending
                    ],
                )
            else:
                observed = triples
            write_triples(observed, out_path, partition_col="bucket")
            if fail_after_write:
                report.state = "FAILED"
                raise RuntimeError("simulated crash before manifest record")
            if use_observe:
                vals = obs.get
                by_bucket = {b: int(vals[f"b{b}"] or 0) for b in pending}
            else:
                written = (
                    spark.read.parquet(out_path)
                    .where(F.col("bucket").isin(pending))
                    .groupBy("bucket")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                )
                by_bucket = {b: 0 for b in pending}
                by_bucket.update({r["bucket"]: r["n"] for r in written})
            rows = [(str(b), None, by_bucket.get(b, 0)) for b in pending]
            if not prior:
                rows.append((BUCKETS_SENTINEL, n_buckets, None))
            store.record_many(rows, run_id=report.run_id, version=version)
            report.converted_triples = sum(by_bucket.values())
            _event(3, "write_end", f"triples={report.converted_triples}")
            if metrics:
                from .sources.metrics import jvm_memory_metrics

                metrics.record(
                    report.run_id,
                    "convert",
                    {
                        "buckets_converted": len(pending),
                        "triples": report.converted_triples,
                        "seconds": time.time() - t0,
                        **jvm_memory_metrics(spark),  # A7 high-water analog
                    },
                )
        _check_cancel()  # final boundary (see docstring)
        report.state = "FINISHED"
    except JobCancelled:
        raise  # state already CANCELLED
    except Exception:
        if should_stop is not None and should_stop():
            # a cancelJobGroup kill lands as a generic Py4J error from
            # the interrupted action — the history trail should still
            # read "cancelled", not "failed"
            report.state = "CANCELLED"
        elif report.state != "FAILED":
            report.state = "FAILED"
        raise
    finally:
        report.seconds = time.time() - t0
        # terminal transition (_event never raises: see its contract)
        _event(4, report.state.lower(), f"seconds={report.seconds:.3f}")
    return report


# past this many per-bucket Observation expressions, codegen bloat beats
# the saved read-back scan — fall back to counting the written partitions
OBSERVE_MAX_BUCKETS = 1024

CANON_SENTINEL = "__canonicalize__"
BUCKETS_SENTINEL = "__n_buckets__"


def run_import_nt_job(
    spark: SparkSession,
    nt_path: str,
    out_path: str,
    manifest_path: str,
    n_buckets: int = 64,
    version: int = TRANSFORMATION_VERSION,
) -> JobReport:
    """Import a reference-produced N-Triples dump into the engine's
    partitioned triple table (the switching-user path: the reference
    publishes its corpora as NT dumps, README.md:10-15).

    Parse (vectorized regex, sources/io.py), recover the dataset from
    the reference's subject-URI minting rules, bucket, dedup (Jena set
    semantics survive the dump round-trip), materialize + manifest.
    Triples whose subject is not an instance URI (external resources)
    land under dataset ``__external__``.
    """
    from .model import PREFIX_INSTANCE
    from .sources.io import dataset_of_subject, read_nt

    store = ManifestStore(spark, manifest_path)
    report = JobReport(run_id=new_run_id(), n_buckets=n_buckets)
    t0 = time.time()
    report.state = "RUNNING"
    try:
        # same n_buckets guard + sentinel as run_transcripts_job: a later
        # transcripts run against this manifest must see the bucket count
        # this import used, or its resume anti-join would skip the wrong
        # buckets
        prior = {
            int(r["n_rows"])
            for r in store.read()
            .where(F.col("dataset") == BUCKETS_SENTINEL)
            .select("n_rows")
            .collect()
        }
        if prior and n_buckets not in prior:
            raise ValueError(
                f"manifest store {manifest_path} was written with "
                f"n_buckets={sorted(prior)}; re-run with the same value or "
                f"use a fresh manifest path (got n_buckets={n_buckets})"
            )
        triples = read_nt(spark, nt_path).withColumn(
            "dataset",
            F.coalesce(
                dataset_of_subject(F.col("s"), PREFIX_INSTANCE),
                F.lit("__external__"),
            ),
        )
        bucketed = triples.withColumn(
            "bucket", bucket_of(F.col("dataset"), n_buckets)
        ).dropDuplicates(["s", "p", "o"])
        # per-bucket counts from Observation metrics on the write pass
        # (same >1k-bucket codegen fallback as run_transcripts_job)
        use_observe = n_buckets <= OBSERVE_MAX_BUCKETS
        if use_observe:
            obs = Observation()
            observed = bucketed.observe(
                obs,
                *[
                    F.sum((F.col("bucket") == b).cast("long")).alias(f"b{b}")
                    for b in range(n_buckets)
                ],
            )
        else:
            observed = bucketed
        write_triples(observed, out_path, partition_col="bucket")
        if use_observe:
            vals = obs.get
            by_bucket = {
                b: int(vals[f"b{b}"] or 0)
                for b in range(n_buckets)
                if int(vals[f"b{b}"] or 0)
            }
        else:
            by_bucket = {
                r["bucket"]: r["n"]
                for r in spark.read.parquet(out_path)
                .groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
        rows = [(str(b), None, n) for b, n in sorted(by_bucket.items())]
        if not prior:
            rows.append((BUCKETS_SENTINEL, n_buckets, None))
        store.record_many(rows, run_id=report.run_id, version=version)
        report.pending = sorted(by_bucket)
        report.converted_triples = sum(by_bucket.values())
        report.state = "FINISHED"
    except Exception:
        report.state = "FAILED"
        raise
    finally:
        report.seconds = time.time() - t0
    return report


def run_canonicalize_job(
    spark: SparkSession,
    triples_path: str,
    out_path: str,
    manifest_path: str,
    version: int = TRANSFORMATION_VERSION,
    metrics_path: str | None = None,
) -> JobReport:
    """Phase 2: entity canonicalization over the landed triple table.

    North-rule shape: broadcast-dictionary links (per-dataset property
    URIs → global anchors, the propertymapping.tsv role) + connected-
    components merge, then every triple rewritten through the canonical
    map and re-deduplicated (merging creates duplicates), and the whole
    canonical table rewritten as files sized by bytes and clustered by
    bucket (:func:`~.sources.io.write_clustered`). Resumable: a manifest
    row with the ``__canonicalize__`` sentinel dataset marks completion;
    re-runs anti-join it away and become no-ops.
    """
    from .operators.canon import (
        bounded_rows,
        canonicalize_triples_minimal_dedup,
        connected_components,
        lineage_checkpoint,
        local_components,
        prefer_representatives,
        property_alias_edges,
    )
    from .sources.metrics import MetricsStore

    store = ManifestStore(spark, manifest_path)
    metrics = MetricsStore(spark, metrics_path) if metrics_path else None
    report = JobReport(run_id=new_run_id(), n_buckets=1)
    t0 = time.time()
    report.state = "RUNNING"
    try:
        # freshness-aware skip (P7 upToDate semantics): a prior
        # canonicalize only counts if no convert manifest row and no
        # deletion tombstone landed since it ran. Ordering key is the
        # count of those rows the sentinel recorded (manifests are
        # append-only, so the count is monotonic) — not wall-clock
        # timestamps, which tie when convert and canonicalize land in
        # the same clock tick or drift across drivers sharing the
        # manifest path.
        rows = store.read().where(
            (F.col("version") >= version)
            | (F.col("version") == TOMBSTONE_VERSION)
        ).collect()
        n_convert = sum(1 for r in rows if not r["dataset"].startswith("__"))
        covered = max(
            (
                int(r["n_rows"])
                for r in rows
                if r["dataset"] == CANON_SENTINEL and r["n_rows"] is not None
            ),
            default=None,
        )
        if covered is not None and covered >= n_convert:
            report.skipped = 1
            report.state = "FINISHED"
            return report
        report.pending = [0]
        # plain read (not read_triples): keeps the bucket partition column
        triples = spark.read.parquet(triples_path)
        # the alias map is O(datasets × fields) rows: collected once, its
        # representatives (the anchors) are elected on the driver and the
        # rewrite reads it as a LocalRelation — no further Spark job
        # until the rewrite's own write. Past the bound: the star rounds.
        edges = property_alias_edges(triples)
        rows = bounded_rows(edges)
        if rows is not None:
            comp = local_components(
                spark, rows, preferred={r["dst"] for r in rows}
            )
        else:
            edges = lineage_checkpoint(edges)
            comp = prefer_representatives(
                connected_components(edges, "src", "dst", local_threshold=0),
                edges.select(F.col("dst").alias("uri")),
            )
        # statement-set semantics at O(merge-affected) dedup cost — only
        # changed / representative-touching triples re-shuffle
        canon = canonicalize_triples_minimal_dedup(
            triples, comp, rewrite_predicates=True
        )
        # the whole table is replaced: a bucket a delete emptied has no
        # row here, and must not keep its old rows
        n = write_clustered(canon, out_path, triples_path)
        store.record(
            dataset=CANON_SENTINEL,
            n_rows=n_convert,  # convert/tombstone watermark this covers
            n_triples=n,
            run_id=report.run_id,
            version=version,
        )
        report.converted_triples = n
        if metrics:
            from .sources.metrics import jvm_memory_metrics

            # from the driver rows when the map was resolved there (a
            # filtered LocalRelation collects without a job)
            merged = comp.where(F.col("node") != F.col("component"))
            if rows is not None:
                n_edges, n_merged = len(rows), len(merged.collect())
            else:
                n_edges, n_merged = edges.count(), merged.count()
            metrics.record(
                report.run_id,
                "canonicalize",
                {
                    "triples": n,
                    "alias_edges": n_edges,
                    "merged_nodes": n_merged,
                    "seconds": time.time() - t0,
                    **jvm_memory_metrics(spark),  # A7 high-water analog
                },
            )
        report.state = "FINISHED"
    except Exception:
        report.state = "FAILED"
        raise
    finally:
        report.seconds = time.time() - t0
    return report


def list_runs_df(manifest: DataFrame, metrics: DataFrame | None = None) -> DataFrame:
    """Per-run job summary from a manifest table (job listing surface).

    The reference exposes job inspection over HTTP — Rest.java:40-91
    lists jobs, Job.java:142-199 serializes per-job phase/state/counts.
    The engine's equivalent record is the manifest store: one row per
    completed partition per run. This rolls it up to one row per run
    (config sentinels excluded): partition count, row/triple totals,
    version, and the commit-time span. With ``metrics`` (a MetricsStore
    read), per-stage wall-clock seconds are joined in.

    Pure aggregation — callable on a driver, a notebook, or behind any
    HTTP wrapper; the engine deliberately ships the DataFrame, not the
    server (SURVEY.md §6).
    """
    data = manifest.where(~F.col("dataset").isin(BUCKETS_SENTINEL, CANON_SENTINEL))
    runs = data.groupBy("run_id").agg(
        F.min("version").alias("version"),
        F.count(F.lit(1)).alias("n_partitions"),
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum("n_triples").cast("long").alias("n_triples"),
        F.round(F.min("finished_at"), 3).alias("first_finished"),
        F.round(F.max("finished_at"), 3).alias("last_finished"),
    )
    if metrics is not None:
        secs = (
            metrics.where(F.col("key") == "seconds")
            .groupBy("run_id")
            .agg(F.round(F.sum("value"), 3).alias("seconds"))
        )
        runs = runs.join(secs, "run_id", "left")
    return runs.orderBy("run_id")


def list_runs(
    spark: SparkSession, manifest_path: str, metrics_path: str | None = None
) -> DataFrame:
    """Job listing over on-disk manifest (+ optional metrics) stores."""
    from .sources.metrics import MetricsStore

    manifest = ManifestStore(spark, manifest_path).read()
    metrics = MetricsStore(spark, metrics_path).read() if metrics_path else None
    return list_runs_df(manifest, metrics)


def recent_history(spark: SparkSession, metrics_path: str) -> DataFrame:
    """All runs' lifecycle transitions, newest first — the cross-run
    event feed (EventNotificationContainer / the commented-out
    NewsFeedWriter.java RSS analog). Same rows as :func:`job_history`
    without the run filter; callers bound the collect."""
    from .sources.metrics import MetricsStore

    m = MetricsStore(spark, metrics_path).read()
    return (
        m.where(F.col("stage") == "history")
        .select(
            "run_id",
            F.col("value").cast("int").alias("seq"),
            F.col("key").alias("event"),
            F.col("dataset").alias("detail"),
            F.round("ts", 3).alias("ts"),
        )
        .orderBy(F.col("ts").desc(), F.col("seq").desc())
    )


def job_history(
    spark: SparkSession, metrics_path: str, run_id: str
) -> DataFrame:
    """One run's full lifecycle transition trail (Job.java:244-306 job
    history / NewsFeedWriter event-feed analog), in order: the
    ``stage='history'`` rows the runners persist. Survives restarts —
    it reads the on-disk metrics store, not process state. Columns:
    (run_id, seq, event, detail, ts)."""
    from .sources.metrics import MetricsStore

    m = MetricsStore(spark, metrics_path).read()
    return (
        m.where((F.col("stage") == "history") & (F.col("run_id") == run_id))
        .select(
            "run_id",
            F.col("value").cast("int").alias("seq"),
            F.col("key").alias("event"),
            F.col("dataset").alias("detail"),
            F.round("ts", 3).alias("ts"),
        )
        .orderBy("seq", "ts")
    )
