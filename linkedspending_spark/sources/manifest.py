"""Per-partition manifests: checkpoint/resume/lineage for the pipeline.

Reference analogs:

* ``lso:transformationVersion`` stamp + regex skip-scan
  (ConvertWorker.java:59,878-964, P6) — a conversion is skipped when an
  up-to-date manifest row exists;
* ``lso:uploadComplete`` flag written after the Virtuoso bulk load
  (UploadWorker.java:32-59, S7) — completion is recorded *after* the
  data is durably written, so a crash before the manifest row simply
  re-runs that partition (idempotent overwrite);
* freshness predicates (LinkedSpendingDatasetInfo.java:102-117, P7) —
  the resume set is an **anti-join** of work units against manifests.

Manifest rows live in a parquet table (one file per commit, append-only;
at deployment scale this is an Iceberg table — same log-structured
semantics). Columns: dataset, version, n_rows, n_triples, finished_at,
run_id.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..model import TRANSFORMATION_VERSION
from .local import local_frame

#: version stamp of a deletion tombstone row — sorts below every real
#: transformation version, so a tombstoned dataset is never "completed"
TOMBSTONE_VERSION = -1

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("dataset", T.StringType(), False),
        T.StructField("version", T.IntegerType(), False),
        T.StructField("n_rows", T.LongType(), True),
        T.StructField("n_triples", T.LongType(), True),
        T.StructField("finished_at", T.DoubleType(), False),
        T.StructField("run_id", T.StringType(), False),
    ]
)


class ManifestStore:
    """Append-only manifest table over a directory of parquet commits."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)

    def read(self) -> DataFrame:
        if not os.listdir(self.path):
            return local_frame(self.spark, [], MANIFEST_SCHEMA)
        return self.spark.read.schema(MANIFEST_SCHEMA).parquet(self.path)

    def record(
        self,
        dataset: str,
        n_rows: int | None,
        n_triples: int | None,
        run_id: str,
        version: int = TRANSFORMATION_VERSION,
    ) -> None:
        """Append one completion row (written AFTER the data commit)."""
        self.record_many([(dataset, n_rows, n_triples)], run_id, version)

    def record_many(
        self,
        entries: list[tuple[str, int | None, int | None]],
        run_id: str,
        version: int = TRANSFORMATION_VERSION,
    ) -> None:
        """Append completion rows for many datasets in ONE commit.

        One row per (dataset, n_rows, n_triples) tuple. A separate
        write job per bucket costs seconds of commit overhead each
        (measured 64 buckets → ~370 s at sf0.1); all buckets of a run
        finish together, so they are recorded together — which is also
        the atomic all-or-nothing completion mark a resume wants.
        """
        now = time.time()
        df = local_frame(
            self.spark,
            [(d, version, nr, nt, now, run_id) for d, nr, nt in entries],
            MANIFEST_SCHEMA,
        )
        df.coalesce(1).write.mode("append").parquet(self.path)

    def tombstone(self, datasets: list[str], run_id: str) -> None:
        """Mark datasets DELETED (one append commit, version -1).

        The log-structured delete mark (Virtuoso.java:39-49 ``DROP
        SILENT GRAPH`` analog): the data partition is dropped
        separately by :func:`~linkedspending_spark.sources.io.
        delete_datasets`; the tombstone row makes :meth:`completed`
        forget the dataset FIRST, so a crash between the two steps
        re-exposes the dataset to :meth:`pending` (re-convert or
        re-delete) instead of silently losing it.
        """
        self.record_many(
            [(d, None, None) for d in datasets],
            run_id,
            version=TOMBSTONE_VERSION,
        )

    def completed(self, version: int = TRANSFORMATION_VERSION) -> DataFrame:
        """Datasets already converted at this version (P6 skip predicate).

        Latest-row-wins per dataset (the log-structured-table read
        semantic): a deletion tombstone or a newer lower-version row
        supersedes an older completion. The manifest is tiny (one row
        per dataset lifecycle event), so the per-dataset max is a
        broadcast-sized aggregation.
        """
        latest = (
            self.read()
            .groupBy("dataset")
            .agg(
                F.max(F.struct("finished_at", "run_id", "version")).alias(
                    "__last"
                )
            )
            .select("dataset", F.col("__last.version").alias("version"))
        )
        return latest.where(F.col("version") >= version).select("dataset")

    def pending(
        self, work: DataFrame, version: int = TRANSFORMATION_VERSION
    ) -> DataFrame:
        """Anti-join: work units with no completed manifest (J4 pattern).

        ``work`` must have a ``dataset`` column; returns the subset still
        to do. The manifest side is tiny → broadcast.
        """
        done = self.completed(version)
        return work.join(F.broadcast(done), "dataset", "left_anti")


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]
