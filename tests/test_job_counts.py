"""Spark jobs per pipeline step: each job costs a fixed share of driver
and JIT time, so a step's job count is part of its cost.

The counts are read from Spark's status tracker for a job group set
around the one call checked. Canonicalize resolves its alias map on the
driver and rewrites through one LocalRelation lookup; ``bgp_stats``
gathers per-predicate and whole-table statistics in one rollup. A
quantified property path collects its edge relation once and closes it
on the driver; an ungrouped SUM over lexical forms is typed and
answered by one collect of its aggregate row.
"""

from __future__ import annotations

import pytest

from linkedspending_spark import model as M
from linkedspending_spark.jobs import run_canonicalize_job, run_transcripts_job
from linkedspending_spark.serve import bgp_stats
from linkedspending_spark.sparql import select_text
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


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """A landed and canonicalized build: ``(out dir, canonicalize
    result, canonicalize's job count)``."""
    t = synth_transcripts_df(spark, n_convs=24, base_turns=4, seed=11)
    out = str(tmp_path_factory.mktemp("job_counts"))
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
    return out, can, n_canon


def test_canonicalize_and_stats_job_counts(spark, built):
    out, can, n_canon = built
    assert can.state == "FINISHED" and can.converted_triples > 0
    assert n_canon <= 9

    served = spark.read.parquet(f"{out}/canon")
    stats, n_stats = _jobs(
        spark, "test_job_counts.bgp_stats", lambda: bgp_stats(served)
    )
    assert stats["total"] == can.converted_triples
    assert n_stats <= 2


def test_sum_and_path_job_counts(spark, built):
    """The serving mix's two costliest classes, shaped as ``perfbench``
    sends them: a constant-subject ``qb:component+`` runs only its one
    bounded edge collect, and an ungrouped SUM with a FILTER types its
    sums inside the aggregate's own collect. A grouped SUM keeps its
    separate typing pre-scan."""
    out = built[0]
    served = spark.read.parquet(f"{out}/canon")
    stats = bgp_stats(served)
    model = (
        served.where(served.p == M.QB_COMPONENT).select("s").first()["s"]
    )

    def run(group: str, query: str):
        return _jobs(
            spark,
            group,
            lambda: select_text(served, query, stats=stats).collect(),
        )

    rows, n_path = run(
        "test_job_counts.path",
        f"SELECT ?x WHERE {{ <{model}> <{M.QB_COMPONENT}>+ ?x }}",
    )
    assert rows and n_path <= 1, n_path
    rows, n_sum = run(
        "test_job_counts.sum",
        f"SELECT (SUM(?c) AS ?total) WHERE {{ ?d <{M.LSO_COMPLETENESS}> ?c . "
        f'?d <{M.RDFS_LABEL}> ?l FILTER(?l >= "conv-0010") }}',
    )
    assert rows[0]["total"] is not None and n_sum <= 3, n_sum
    rows, n_grouped = run(
        "test_job_counts.grouped_sum",
        f"SELECT ?l (SUM(?c) AS ?total) WHERE {{ ?d <{M.LSO_COMPLETENESS}> ?c . "
        f"?d <{M.RDFS_LABEL}> ?l }} GROUP BY ?l",
    )
    # the grouped typing stays one narrow pre-scan: as many jobs as
    # before (6), never more passes over the solutions
    assert rows and n_grouped <= 6, n_grouped
