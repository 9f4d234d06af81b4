"""The curation stage boundary (``operators/curation._materialize``):
one eager ``localCheckpoint`` whose row count rides the same Spark job
as an ``Observation``.

Pins the row count on the edge cases (a frame filtered to nothing, a
statically-empty frame, a non-empty frame) and a count-based job budget:
the boundary submits exactly the jobs of the checkpoint alone.  The
checkpoint-then-count form it replaced submitted two more per boundary.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from agf_data_ingestion_spark.operators.curation import _materialize
from agf_data_ingestion_spark.sources.snapshots import empty_frame


def _frame(spark, n=50):
    return spark.createDataFrame(
        [(i, f"t{i % 7}") for i in range(n)], "doc_id long, text string"
    )


def _jobs_of(spark, group, fn):
    """Number of Spark jobs ``fn()`` submits, counted under a job group."""
    sc = spark.sparkContext
    props = ("spark.jobGroup.id", "spark.job.description")
    prev = [sc.getLocalProperty(k) for k in props]
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for k, v in zip(props, prev):
            sc.setLocalProperty(k, v)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_filtered_to_zero_rows(spark):
    out, rows = _materialize(_frame(spark).filter(F.col("doc_id") < 0))
    assert rows == 0
    assert out.count() == 0


def test_statically_empty_frame(spark):
    """An Observation on a plan the optimizer proves empty is pruned away
    and ``obs.get`` dies with a bare Py4J assertion; the boundary returns
    0 without observing."""
    df = empty_frame(spark, "doc_id long, text string")
    out, rows = _materialize(df)
    assert rows == 0
    assert out.collect() == []
    assert out.columns == ["doc_id", "text"]


def test_count_and_rows_match(spark):
    df = _frame(spark).filter(F.col("doc_id") % 3 != 0)
    out, rows = _materialize(df)
    assert rows == df.count() == 33
    assert sorted(out.collect()) == sorted(df.collect())


def test_boundary_costs_only_the_checkpoint_jobs(spark):
    """Deterministic job budget: on a frame with one shuffle the boundary
    submits exactly as many jobs as ``localCheckpoint(eager=True)``
    alone — the count adds none."""

    def grouped():
        return _frame(spark, 200).groupBy("text").agg(F.count("*").alias("n"))

    alone = _jobs_of(
        spark, "test-boundary-checkpoint", lambda: grouped().localCheckpoint(eager=True)
    )
    boundary = _jobs_of(spark, "test-boundary-materialize", lambda: _materialize(grouped()))
    assert alone >= 1
    assert boundary == alone
