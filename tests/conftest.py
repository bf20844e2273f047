import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from face_hunter_spark.session import build_session  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="fhs-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s
    s.stop()


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


# CI portability: the driver parquet fixtures and the read-only
# reference checkout exist on the build host but not on generic CI
# runners; fixture-dependent modules skip cleanly there.
requires_testdata = pytest.mark.skipif(
    not os.path.isdir(SF_DIR),
    reason=f"driver testdata not present at {SF_DIR}",
)
requires_reference = pytest.mark.skipif(
    not os.path.exists("/root/reference/models/example_graph"),
    reason="reference checkout not present",
)


def run_in_job_group(spark, fn):
    """Run ``fn()`` under a fresh Spark job group and return ``(its
    result, jobs)``: one dict per job the group launched (``id``,
    ``description``, ``tasks`` = task count per stage in stage-id order,
    so a job's result stage comes last)."""
    import uuid

    sc = spark.sparkContext
    group = "group-" + uuid.uuid4().hex[:8]
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc._jsc.clearJobGroup()
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = []
    for j in sorted(tracker.getJobIdsForGroup(group)):
        desc = store.job(j).description()
        stages = [tracker.getStageInfo(s)
                  for s in sorted(tracker.getJobInfo(j).stageIds)]
        jobs.append({
            "id": j,
            "description": desc.get() if desc.isDefined() else "",
            "tasks": [s.numTasks for s in stages if s is not None],
        })
    return result, jobs
