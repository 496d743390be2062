"""SparkSession factory tuned for this engine.

Local-mode testing stands in for a multi-executor cluster; the configs
below are the ones that transfer to a 1000-executor deployment:
AQE (runtime re-plan + skew-join splitting), Arrow for pandas UDFs,
UTC session time zone (oracle comparability), shuffle partitions sized
to the parallelism level instead of the 200 default, a generated-code
class cache sized to the engine's working set, and zstd parquet.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Spark's default of 100 cached codegen classes is below the ~143 that one
# build and its first count read generate, so a repeat build would compile
# (Janino) and JIT-compile all of them again. Repeat builds, 260 SPARQL
# requests and two landings fit in ~430 entries; the cap sits just above
# that working set, and past it the cache evicts least-recently-used
# classes as before. Static conf: only the first session in a JVM sets it.
CODEGEN_CACHE_MAX_ENTRIES = 512


def get_spark(
    cpus: int | None = None,
    app_name: str = "linkedspending_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` controls local parallelism (``local[cpus]``); defaults to
    ``$SPARK_GRAFT_CPUS`` or all cores. ``shuffle_partitions`` defaults
    to the parallelism level — on a real cluster this would be
    ~2-3x total executor cores.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES)
        )
        # every table the engine writes (landed buckets, canonical table,
        # manifest, metrics, streaming sink): zstd stores the long,
        # prefix-sharing URI columns in ~0.64x snappy's bytes; readers
        # (Spark, pyarrow, DuckDB) take the codec from the file footer
        .config("spark.sql.parquet.compression.codec", "zstd")
        # PySpark's per-call origin capture costs ~10 py4j round trips
        # per Column/functions call only to name the Python call site
        # in Spark's error text. Static conf, like the cache size
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
