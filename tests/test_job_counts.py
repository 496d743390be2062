"""Spark jobs per pipeline step: each job costs a fixed share of driver
and JIT time, so a step's job count is part of its cost.

The counts are read from Spark's status tracker for a job group set
around the one call checked. Canonicalize resolves its alias map on the
driver and rewrites through one LocalRelation lookup; ``bgp_stats``
gathers per-predicate and whole-table statistics in one rollup.
"""

from __future__ import annotations

from linkedspending_spark.jobs import run_canonicalize_job, run_transcripts_job
from linkedspending_spark.serve import bgp_stats
from linkedspending_spark.transcripts import synth_transcripts_df

N_BUCKETS = 8


def _jobs(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_canonicalize_and_stats_job_counts(spark, tmp_path):
    t = synth_transcripts_df(spark, n_convs=24, base_turns=4, seed=11)
    out = str(tmp_path)
    conv = run_transcripts_job(
        spark, t, f"{out}/triples", f"{out}/man", n_buckets=N_BUCKETS
    )
    assert conv.state == "FINISHED"

    can, n_canon = _jobs(
        spark,
        "test_job_counts.canonicalize",
        lambda: run_canonicalize_job(
            spark, f"{out}/triples", f"{out}/canon", f"{out}/man"
        ),
    )
    assert can.state == "FINISHED" and can.converted_triples > 0
    assert n_canon <= 9

    served = spark.read.parquet(f"{out}/canon")
    stats, n_stats = _jobs(
        spark, "test_job_counts.bgp_stats", lambda: bgp_stats(served)
    )
    assert stats["total"] == can.converted_triples
    assert n_stats <= 2
