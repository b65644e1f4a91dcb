from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from alexandria_pipeline_spark import get_spark, register_all

# Oracle-comparison tests run at SPARK_GRAFT_TEST_SF (default sf0.001
# for speed; set to sf0.01 to mirror the driver's t2 scale exactly).
SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    register_all()
    s = get_spark("alexandria-pipeline-spark-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield s
    s.stop()


def count_jobs(spark, fn):
    """Run fn() under a job group of its own; return (fn's result, the
    number of Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"count_jobs_{uuid.uuid4().hex[:12]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
