"""The build's Spark job count stays bounded.

Under AQE every ``localCheckpoint(eager=False)`` runs its upstream
shuffle stages when it is called, so each checkpoint in a chain adds
serial jobs and a blocking driver round-trip.  A ``run_pipeline`` build
plus one ``triples.count()`` at sf0.001 submits 31 jobs; the chain of
membership, classes, attrs and quads checkpoints that the one-pass
generate stage replaced submitted 42, because each checkpoint re-ran the
joins below it.  The bound leaves room for a few jobs of AQE variation,
not for that chain.  (A checkpoint that only moves stages the build runs
anyway to an earlier blocking call adds no job, so this bound does not
see it.)"""

from __future__ import annotations

from kgspark.pipeline import run_pipeline

MAX_JOBS = 34


def test_build_job_count_bounded(spark, sf_dir):
    sc = spark.sparkContext
    group = "test-pipeline-job-bound"
    sc.setJobGroup(group, "run_pipeline + triples.count()")
    try:
        n = run_pipeline(spark, sf_dir).triples.count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert n > 0
    assert len(jobs) <= MAX_JOBS, f"{len(jobs)} jobs > {MAX_JOBS}"
