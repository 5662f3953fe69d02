from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stream_cdc_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="stream-cdc-spark-tests")
    yield s
    s.stop()


def count_jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched on this thread), counted
    through a job tag once the listener bus has delivered every event."""
    import uuid

    sc = spark.sparkContext
    tag = f"count-jobs-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        out = fn()
    finally:
        sc.removeJobTag(tag)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return out, len(jsc.statusTracker().getJobIdsForTag(tag))
