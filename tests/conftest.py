import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from databend_spark.session import get_spark

    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def ctx(spark):
    from databend_spark.session import SessionContext, register_tables

    register_tables(spark, SF_DIR)
    return SessionContext(spark)


@pytest.fixture(scope="session")
def spark_jobs(spark):
    """``spark_jobs(fn)`` runs ``fn`` under a fresh job group and returns
    ``(fn's result, stage names of each job it ran)``."""
    import time
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run(fn):
        group, marker = (f"{tag}-{uuid.uuid4().hex}" for tag in ("jobs", "marker"))
        try:
            sc.setJobGroup(group, group)
            out = fn()
            # the listener records jobs in submission order: once the
            # marker job shows, every job fn ran has been recorded
            sc.setJobGroup(marker, marker)
            sc.parallelize([0], 1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        deadline = time.time() + 30
        while not tracker.getJobIdsForGroup(marker) and time.time() < deadline:
            time.sleep(0.01)
        assert tracker.getJobIdsForGroup(marker), "job listener fell behind"
        jobs = []
        for job in sorted(tracker.getJobIdsForGroup(group)):
            info = tracker.getJobInfo(job)
            stages = [tracker.getStageInfo(s) for s in (info.stageIds if info else [])]
            jobs.append([s.name for s in stages if s is not None])
        return out, jobs

    return run
