"""Generated-code reuse: a job shape the engine has already run compiles
no new classes.

Spark caches each whole-stage class by its source text. The session sizes
that cache to the engine's working set, so a repeat build finds every
class already compiled. The test reads the process-wide Janino compile
count (``CodegenMetrics``) around the runs it checks.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from linkedspending_spark.jobs import run_canonicalize_job, run_transcripts_job
from linkedspending_spark.transcripts import synth_transcripts_df

N_BUCKETS = 8


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _transcripts(spark, path: str):
    synth_transcripts_df(spark, n_convs=24, base_turns=4, seed=11).write.parquet(path)
    return spark.read.parquet(path)


def test_repeat_build_compiles_nothing(spark, tmp_path):
    t = _transcripts(spark, str(tmp_path / "in"))

    def build(run: str) -> tuple[int, int]:
        out = str(tmp_path / run)
        c0 = _compiles(spark)
        conv = run_transcripts_job(spark, t, f"{out}/triples", f"{out}/man", n_buckets=N_BUCKETS)
        c1 = _compiles(spark)
        can = run_canonicalize_job(spark, f"{out}/triples", f"{out}/canon", f"{out}/man")
        c2 = _compiles(spark)
        assert conv.state == can.state == "FINISHED"
        assert conv.converted_triples > 0 and can.converted_triples > 0
        return c1 - c0, c2 - c1

    # the counter sees compiles: a fresh literal is a fresh class
    c0 = _compiles(spark)
    spark.range(4).select(F.col("id") + F.lit(time.time_ns())).collect()
    assert _compiles(spark) > c0

    build("a")
    assert build("b") == (0, 0)
