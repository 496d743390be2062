"""Sinks: partitioned triple tables and the N-Triples text sink.

* :func:`write_triples` — the primary materialization: parquet (Iceberg
  at deployment; gated behind an import-try since the sandbox has no
  Iceberg jars) partitioned by ``dataset`` — one partition per dataset,
  the analog of one named graph per dataset (Virtuoso.java:25-49).
  ``mode="overwrite"`` + dynamic partition overwrite gives the same
  atomic drop-and-replace the reference does per subgraph
  (UploadWorker.java:35-36) and makes re-runs idempotent.
* :func:`write_clustered` — a whole-table rewrite (the canonical
  table) as a few unpartitioned files sized by bytes, clustered and
  sorted by ``bucket``.
* :func:`write_nt` / :func:`read_nt` — N-Triples file sink/source
  (ConvertWorker.java:862-868 S6); serialization is the vectorized
  escape chain in :mod:`linkedspending_spark.functions.nt`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import nt_statement
from ..model import KIND_LITERAL, KIND_URI, TRIPLE_SCHEMA_PARTITIONED
from .local import local_frame


def write_triples(
    triples: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_col: str = "dataset",
    files_per_partition: int = 1,
) -> None:
    """Materialize the triple table partitioned by ``partition_col``.

    Dynamic partition overwrite: only the partitions present in
    ``triples`` are replaced — the semantics of the reference's
    per-dataset graph drop+recreate, and the idempotence required for
    resume. Partitions absent from ``triples`` keep their files.

    Rows are clustered on ``partition_col`` before the write: without
    it, every upstream task writes a file into every partition
    directory (tasks × partitions tiny files — measured 2048 files /
    35 MB at sf0.1, dominating job wall time). ``files_per_partition``
    > 1 adds a hash salt for partitions too large for one file at
    deployment scale.
    """
    if files_per_partition > 1:
        # explicit partition count: AQE must not coalesce the salted
        # shuffle back together, or the file split disappears
        n = int(
            triples.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
        clustered = triples.repartition(
            max(n, files_per_partition),
            F.col(partition_col),
            F.pmod(F.xxhash64("s"), F.lit(files_per_partition)),
        )
    else:
        clustered = triples.repartition(F.col(partition_col))
    (
        clustered.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def write_clustered(triples: DataFrame, path: str, input_path: str) -> int:
    """Replace the table at ``path`` with ``triples`` as unpartitioned
    parquet, one file per read split of the input at ``input_path``;
    returns the number of rows written.

    The file count is ``input_path``'s on-disk bytes (one driver-side
    ``getContentSummary``, no Spark job) over Spark's own split size,
    ``spark.sql.files.maxPartitionBytes``: every file is about one scan
    task. Range clustering on ``(bucket, s)`` gives the files disjoint,
    ordered key ranges (two files share at most a boundary bucket), and
    the sort by ``(bucket, p, s)`` tight per-row-group ``bucket``
    statistics, so a bucket predicate is a pushed filter that skips
    files and row groups. At one file the range
    repartition plans a single partition and samples nothing. ``bucket``
    stays an ordinary column; the overwrite replaces the whole directory.

    The row count rides the write pass as an observation placed after
    the shuffle: above it, the range partitioner's sampling job would
    count every row a second time.
    """
    import math

    spark = triples.sparkSession
    jvm, jsession = spark._jvm, spark._jsparkSession  # noqa: SLF001
    jpath = jvm.org.apache.hadoop.fs.Path(input_path)
    fs = jpath.getFileSystem(jsession.sessionState().newHadoopConf())
    size = fs.getContentSummary(jpath).getLength()
    split = jsession.sessionState().conf().filesMaxPartitionBytes()
    n = max(1, math.ceil(size / split))
    obs = Observation()
    (
        triples.repartitionByRange(n, "bucket", "s")
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .sortWithinPartitions("bucket", "p", "s")
        .write.mode("overwrite")
        .parquet(path)
    )
    return int(obs.get["n"])


def list_dataset_partitions(path: str) -> list[str]:
    """Dataset (named-graph) partition values present under *path*."""
    import os

    if not os.path.isdir(path):
        return []
    return sorted(
        d[len("dataset="):]
        for d in os.listdir(path)
        if d.startswith("dataset=")
    )


def delete_datasets(
    path: str,
    names: list[str],
    manifest_path: str | None = None,
    spark: SparkSession | None = None,
    run_id: str | None = None,
) -> int:
    """Drop dataset partitions — the named-graph delete
    (Virtuoso.java:39-49 ``DROP SILENT GRAPH``; DeleteAllSubGraphs.java
    loops it over the whole catalog, see :func:`delete_all_datasets`).

    An O(partitions-deleted) metadata/storage operation, never a data
    rewrite — at deployment scale this is Iceberg ``DROP PARTITION``
    (drop the manifest entries; data files age out via snapshot
    expiry), here it unlinks the ``dataset=<name>`` directories.

    Order matters for crash safety: when a manifest is given, the
    deletion TOMBSTONE commits FIRST — a crash between tombstone and
    unlink leaves the dataset visible to raw readers but re-exposed to
    :meth:`ManifestStore.pending` (re-convert or re-run the delete,
    both idempotent), never "manifest says converted but data gone".
    ``SILENT`` semantics: missing partitions are fine; returns the
    number of partition directories actually removed.
    """
    import os
    import shutil

    if manifest_path is not None:
        if spark is None:
            raise ValueError("manifest tombstones need the spark session")
        from .manifest import ManifestStore, new_run_id

        ManifestStore(spark, manifest_path).tombstone(
            list(names), run_id or new_run_id()
        )
    removed = 0
    for name in names:
        d = os.path.join(path, f"dataset={name}")
        if os.path.isdir(d):
            shutil.rmtree(d)
            removed += 1
    return removed


def delete_all_datasets(
    path: str,
    manifest_path: str | None = None,
    spark: SparkSession | None = None,
    run_id: str | None = None,
) -> int:
    """Drop EVERY dataset partition (DeleteAllSubGraphs.java:10-20 —
    its interactive 'type delete to confirm' guard belongs to the
    caller, not the library). Handles both layouts: ``dataset=``
    partitions unlink per dataset; the landed ``bucket=`` layout
    unlinks every bucket partition (tombstoning the dataset names
    first needs one distinct-scan of the table — acceptable for a
    delete-everything). Returns partition directories removed."""
    names = list_dataset_partitions(path)
    if names:
        return delete_datasets(
            path,
            names,
            manifest_path=manifest_path,
            spark=spark,
            run_id=run_id,
        )
    import os
    import shutil

    bucket_dirs = (
        [d for d in os.listdir(path) if d.startswith("bucket=")]
        if os.path.isdir(path)
        else []
    )
    if not bucket_dirs:
        return 0
    if manifest_path is not None:
        if spark is None:
            raise ValueError("manifest tombstones need the spark session")
        from .manifest import ManifestStore, new_run_id

        # the bucketed pipeline's manifest is keyed by WORK UNIT
        # (bucket id), not dataset name — tombstone the manifest's own
        # keys so a future convert re-lists every bucket as pending,
        # never "manifest says converted but data gone". Config
        # sentinels ("__n_buckets__", "__canonicalize__") are NOT work
        # units: they survive (jobs.py reads their n_rows directly).
        store = ManifestStore(spark, manifest_path)
        keys = [
            r["dataset"]
            for r in store.read().select("dataset").distinct().collect()
            if not r["dataset"].startswith("__")
        ]
        if keys:
            store.tombstone(keys, run_id or new_run_id())
    for d in bucket_dirs:
        shutil.rmtree(os.path.join(path, d))
    return len(bucket_dirs)


def delete_datasets_bucketed(
    spark: SparkSession,
    path: str,
    names: list[str],
    n_buckets: int,
    manifest_path: str | None = None,
    run_id: str | None = None,
) -> dict:
    """Delete datasets from the BUCKET-partitioned landed table
    (``jobs.py`` lands ``partition_col="bucket"`` — many datasets
    co-live in one partition, so a dataset delete is copy-on-write
    confined to the AFFECTED bucket partitions, the Iceberg
    copy-on-write DELETE shape; never a table rewrite).

    ``n_buckets`` MUST be the bucket count the table was landed with
    (``--buckets``): victims map to buckets via the same
    ``pmod(xxhash64(dataset), n)`` expression, and only those
    partitions are scanned (partition-pruned) and rewritten. A wrong
    ``n_buckets`` rewrites the wrong partitions and leaves victims in
    place — it cannot lose OTHER datasets' rows.

    Protocol (crash windows documented in order):

    1. manifest TOMBSTONE first (when ``manifest_path`` given). NOTE:
       the bucketed pipeline's manifest is keyed by WORK UNIT (bucket
       id), so per-dataset tombstones there are an AUDIT TRAIL — the
       bucket rightly stays completed (its remaining co-bucketed data
       IS converted), and a re-convert will skip it, keeping the
       victim deleted. Only :func:`delete_all_datasets` un-completes
       work units;
    2. stage: remaining rows of the affected buckets write to a
       sibling ``.__delete_stage__`` directory (Spark refuses to
       overwrite a path it is reading, and an in-place rewrite would
       lose co-bucketed datasets on crash);
    3. swap per bucket: live → ``_old_N`` (the ``_`` prefix is
       invisible to Spark's partition discovery, so crash leftovers
       never corrupt reads), staged → live, trash removed. A crash
       mid-swap leaves a half-swapped partition next to its trash dir;
       every entry into this function first ROLLS BACK such half-swaps
       (trash → live when live is missing), so a re-run recovers the
       co-bucketed datasets and completes the delete. At deployment
       scale the whole swap is one Iceberg metadata commit instead.

    Returns ``{"buckets_rewritten": ..., "rows_deleted": ...}``;
    ``rows_deleted`` counts victim rows actually present (one extra
    pruned scan of the affected buckets).
    """
    import os
    import shutil

    if not names:
        return {"buckets_rewritten": 0, "rows_deleted": 0}
    if manifest_path is not None:
        from .manifest import ManifestStore, new_run_id

        ManifestStore(spark, manifest_path).tombstone(
            list(names), run_id or new_run_id()
        )
    # crash recovery FIRST: a leftover trash dir whose live partition
    # is missing is a half-completed swap — roll it back before
    # scanning, or the rewrite would see (and stage) an empty bucket
    # and the co-bucketed datasets' rows would be lost on re-run
    for d in os.listdir(path) if os.path.isdir(path) else []:
        if d.startswith("_old_"):
            live = os.path.join(
                path, "bucket=" + d[len("_old_"):]
            )
            if not os.path.isdir(live):
                os.rename(os.path.join(path, d), live)
            else:
                shutil.rmtree(os.path.join(path, d))
    from ..jobs import bucket_of

    victims = local_frame(spark, [(n,) for n in names], "dataset string").select(
        "dataset", bucket_of(F.col("dataset"), int(n_buckets)).alias("bucket")
    )
    buckets = sorted({r["bucket"] for r in victims.collect()})
    table = spark.read.parquet(path)
    affected = table.where(F.col("bucket").isin(buckets))
    rows_deleted = affected.join(
        F.broadcast(victims.select("dataset")), "dataset", "left_semi"
    ).count()
    remaining = affected.join(
        F.broadcast(victims.select("dataset")), "dataset", "left_anti"
    )
    stage = path.rstrip("/") + ".__delete_stage__"
    shutil.rmtree(stage, ignore_errors=True)
    (
        remaining.repartition(F.col("bucket"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(stage)
    )
    for b in buckets:
        live = os.path.join(path, f"bucket={b}")
        staged = os.path.join(stage, f"bucket={b}")
        # leading "_" = invisible to Spark's partition discovery, so a
        # crash-leftover trash dir can never corrupt reads of the table
        trash = os.path.join(path, f"_old_{b}")
        shutil.rmtree(trash, ignore_errors=True)
        if os.path.isdir(live):
            os.rename(live, trash)
        if os.path.isdir(staged):
            os.rename(staged, live)
        shutil.rmtree(trash, ignore_errors=True)
    shutil.rmtree(stage, ignore_errors=True)
    return {"buckets_rewritten": len(buckets), "rows_deleted": rows_deleted}


def read_triples(spark: SparkSession, path: str) -> DataFrame:
    """Read a BATCH-layout triple table (partitioned by ``bucket`` only).

    The streaming sink lands a different layout — partitioned by
    ``(batch, bucket)`` — so its tables carry an extra ``batch``
    partition column this fixed schema would drop; read those with
    :func:`read_streamed_triples` instead.
    """
    return spark.read.schema(TRIPLE_SCHEMA_PARTITIONED).parquet(path)


def read_streamed_triples(spark: SparkSession, path: str) -> DataFrame:
    """Read a STREAMED triple table (streaming/sink.py layout).

    The sink partitions by ``(batch, bucket)`` so each micro-batch is an
    idempotent dynamic-partition overwrite; this reader keeps both
    partition columns. Project the ``batch`` column away for batch-side
    consumers that expect the :func:`read_triples` shape.
    """
    schema = T.StructType(
        TRIPLE_SCHEMA_PARTITIONED.fields
        + [T.StructField("batch", T.IntegerType(), True)]
    )
    return spark.read.schema(schema).parquet(path)


def nt_lines(triples: DataFrame, dedup: bool = False) -> DataFrame:
    """Serialize to one ``value`` column of N-Triples lines.

    ``dedup=True`` applies statement-set semantics (U3) ON the serialized
    line instead of the 6-column triple row: the NT rendering is
    injective in (s, p, o, o_kind, o_datatype, o_lang) — escaping is
    reversible and the three term shapes are unambiguous — so
    ``dropDuplicates(["value"])`` is exactly triple-set dedup, while the
    dedup shuffle carries ONE string column (~the line bytes) instead of
    seven (line bytes + per-field offsets + duplicated term text). At
    the 100-TB scale this is the largest shuffle in the serialization
    job; measured at sf0.1 it cuts shuffle write ~35%.
    """
    lines = triples.select(nt_statement().alias("value"))
    return lines.dropDuplicates(["value"]) if dedup else lines


def write_nt(
    triples: DataFrame, path: str, mode: str = "overwrite", dedup: bool = False
) -> None:
    """Serialize to N-Triples text files (one line per statement)."""
    nt_lines(triples, dedup=dedup).write.mode(mode).text(path)


_NT_LINE = (
    r"^<([^>]*)> <([^>]*)> "
    r"(?:<([^>]*)>|\"((?:[^\"\\]|\\.)*)\"(?:\^\^<([^>]*)>|@([A-Za-z0-9-]+))?)"
    r" \.$"
)


def read_nt(spark: SparkSession, path: str) -> DataFrame:
    """Parse N-Triples text back into the triple schema (vectorized regex).

    Inverse of :func:`write_nt` for round-trip tests and for ingesting
    reference-produced dumps. Unescapes the four NT literal escapes.
    """
    return _parse_nt_lines(spark.read.text(path))


def dataset_of_subject(s, prefix_instance: str):
    """Recover the dataset name from a reference-minted subject URI.

    URI shapes (SURVEY.md §1.4 / uris.py): ``{inst}{ds}``,
    ``{inst}{ds}/model``, ``{inst}{ds}/views/{v}``,
    ``{inst}observation-{ds}-{id}``, ``{inst}source-{ds}-{id}`` (ids
    are numeric in OpenSpending entries, ConvertWorker.java:609).
    Non-instance subjects (external URIs rewritten as objects,
    property URIs) yield NULL.
    """
    col = s if not isinstance(s, str) else F.col(s)
    local = F.when(
        col.startswith(prefix_instance),
        col.substr(F.lit(len(prefix_instance) + 1), F.length(col)),
    )
    obs = F.regexp_extract(local, r"^(?:observation|source)-(.+)-[0-9]+$", 1)
    pathless = F.regexp_extract(local, r"^([^/]+)(?:/.*)?$", 1)
    return (
        F.when(obs != "", obs)
        .when(local.isNotNull() & (pathless != ""), pathless)
        .otherwise(F.lit(None).cast("string"))
    )


def _parse_nt_lines(lines: DataFrame) -> DataFrame:
    """Parse a DataFrame of NT lines (column ``value``) → triple schema."""
    parsed = lines.select(
        F.regexp_extract("value", _NT_LINE, 1).alias("s"),
        F.regexp_extract("value", _NT_LINE, 2).alias("p"),
        F.regexp_extract("value", _NT_LINE, 3).alias("o_uri"),
        F.regexp_extract("value", _NT_LINE, 4).alias("o_lit"),
        F.regexp_extract("value", _NT_LINE, 5).alias("o_dt"),
        F.regexp_extract("value", _NT_LINE, 6).alias("o_lang"),
    ).where(F.col("s") != "")

    def _unescape(c):
        # single-pass-correct without a sentinel (hypothesis found that a
        # sentinel char can collide with raw data): split on escaped
        # backslashes — inside each segment every remaining backslash
        # starts exactly one short escape — then rejoin with '\'
        parts = F.split(c, r"\\\\", -1)
        fixed = F.transform(
            parts,
            lambda seg: F.replace(
                F.replace(
                    F.replace(
                        F.replace(seg, F.lit("\\t"), F.lit("\t")),
                        F.lit("\\r"),
                        F.lit("\r"),
                    ),
                    F.lit("\\n"),
                    F.lit("\n"),
                ),
                F.lit('\\"'),
                F.lit('"'),
            ),
        )
        return F.array_join(fixed, "\\")

    is_uri = F.col("o_uri") != ""
    return parsed.select(
        "s",
        "p",
        F.when(is_uri, F.col("o_uri")).otherwise(_unescape(F.col("o_lit"))).alias("o"),
        F.when(is_uri, F.lit(KIND_URI)).otherwise(F.lit(KIND_LITERAL)).alias("o_kind"),
        F.when(F.col("o_dt") != "", F.col("o_dt")).alias("o_datatype"),
        F.when(F.col("o_lang") != "", F.col("o_lang")).alias("o_lang"),
    )
