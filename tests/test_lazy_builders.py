"""The registry's ``eager`` flag is exact: a builder marked lazy runs no
query at construction, and a builder marked eager does.

bench.py times a lazy query from its collect only, so a lazy-marked
builder that pins, collects or iterates at construction hides that work
from the headline window. Every entry is built at sf0.001 and the Spark
jobs its construction launches inside an SQL execution are counted.
``spark.read.parquet`` also launches one schema-inference job per read
(Spark merges the parquet footers in parallel), outside any SQL
execution: that is plan construction, and it is not counted."""

from __future__ import annotations

import uuid

from stream_cdc_spark.plans.queries import QUERIES
from tests.conftest import SF_SMALL


def _query_jobs(spark, fn) -> int:
    """Jobs ``fn`` launched on this thread that belong to an SQL
    execution, counted through a job tag once the listener bus has
    delivered every event; the app status store links each job to its
    SQL execution, if any."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    tag = f"lazy-builder-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        fn()
    finally:
        sc.removeJobTag(tag)
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    return sum(
        1
        for j in jsc.statusTracker().getJobIdsForTag(tag)
        if store.jobWithAssociatedSql(j)._2().isDefined()
    )


def test_eager_flag_matches_the_jobs_a_builder_runs(spark):
    wrong = {}
    for name, spec in sorted(QUERIES.items()):
        jobs = _query_jobs(spark, lambda: spec.builder(spark, SF_SMALL))
        if spec.eager != (jobs > 0):
            wrong[name] = (spec.eager, jobs)
    assert not wrong, f"(eager flag, query jobs at construction): {wrong}"
