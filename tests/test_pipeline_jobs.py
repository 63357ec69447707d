"""The build's Spark job count stays bounded.

Under AQE every ``localCheckpoint(eager=False)`` runs its upstream
shuffle stages when it is called, so each checkpoint in a chain adds
serial jobs and a blocking driver round-trip.  A ``run_pipeline`` build
plus one ``triples.count()`` at sf0.001 submits 29 jobs; the chain of
membership, classes, attrs and quads checkpoints that the one-pass
generate stage replaced submitted 42, because each checkpoint re-ran the
joins below it.  The bound leaves room for a few jobs of AQE variation,
not for that chain.  (A checkpoint that only moves stages the build runs
anyway to an earlier blocking call adds no job, so this bound does not
see it.)

Registry queries read the stages of the one memoized pipeline, so once
the triples are built, an entity or edge query runs only its own
projection over the checkpointed stages: 6 and 2 jobs at sf0.001.  A
registry that wires the chain a second time (mention kernel, link, CC)
submits 22 and 18."""

from __future__ import annotations

import kgspark.queries as Q
from kgspark.pipeline import run_pipeline, run_pipeline_cached

MAX_JOBS = 34
MAX_SHARED_JOBS = {"kg_entities": 8, "kg_link_edges": 4}


def _jobs(spark, group: str, fn) -> tuple[int, object]:
    """(Spark jobs ``fn`` submits, its result), counted under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_build_job_count_bounded(spark, sf_dir):
    jobs, n = _jobs(spark, "test-pipeline-job-bound",
                    lambda: run_pipeline(spark, sf_dir).triples.count())
    assert n > 0
    assert jobs <= MAX_JOBS, f"{jobs} jobs > {MAX_JOBS}"


def test_registry_shares_the_built_chain(spark, sf_dir):
    run_pipeline_cached(spark, sf_dir).triples.count()
    for name, bound in MAX_SHARED_JOBS.items():
        jobs, n = _jobs(spark, f"test-shared-chain-{name}",
                        lambda: getattr(Q, name)(spark, sf_dir).count())
        assert n > 0
        assert jobs <= bound, f"{name}: {jobs} jobs > {bound}"
