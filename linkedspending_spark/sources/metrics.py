"""Per-stage metrics table (A5 statistics-TSV analog → lineage rows).

The reference appends per-dataset statistics lines to
``statistics/statistics{epoch}`` (ConvertWorker.java:69-76,823-834).
Here every pipeline stage appends typed rows (run_id, stage, dataset,
key, value, ts) to a parquet metrics table — the lineage/row-count
record the north rule requires next to the manifests.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .local import local_frame

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("dataset", T.StringType(), True),
        T.StructField("key", T.StringType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("ts", T.DoubleType(), False),
    ]
)


class MetricsStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)

    def record(self, run_id: str, stage: str, metrics: dict[str, float], dataset: str | None = None) -> None:
        now = time.time()
        rows = [
            (run_id, stage, dataset, k, None if v is None else float(v), now)
            for k, v in metrics.items()
        ]
        local_frame(self.spark, rows, METRICS_SCHEMA).write.mode("append").parquet(
            self.path
        )

    def event(
        self, run_id: str, seq: int, event: str, detail: str | None = None
    ) -> None:
        """One job lifecycle transition (Job.java:244-306 history analog):
        stored as a ``stage='history'`` metrics row — key = event name,
        value = sequence number (total order within the run; ``ts``
        breaks ties), dataset = free-form detail."""
        self.record(run_id, "history", {event: seq}, dataset=detail)

    def read(self) -> DataFrame:
        if not os.listdir(self.path):
            return local_frame(self.spark, [], METRICS_SCHEMA)
        return self.spark.read.schema(METRICS_SCHEMA).parquet(self.path)


def jvm_memory_metrics(spark: SparkSession) -> dict[str, float]:
    """JVM memory snapshot (A7, MemoryBenchmark.java:60-73 analog).

    The reference samples ``Runtime.totalMemory - freeMemory`` around
    each benchmark step; this reads the same counters from the driver
    JVM (which in local mode IS the executor) via py4j. On a cluster,
    per-executor peaks additionally surface through the Spark metrics
    system; this row records the driver-observable high-water mark next
    to the lineage metrics.
    """
    rt = spark._jvm.java.lang.Runtime.getRuntime()  # noqa: SLF001
    total = float(rt.totalMemory())
    used = total - float(rt.freeMemory())
    return {"jvm_mem_used_bytes": used, "jvm_mem_total_bytes": total}
