import contextlib
from types import SimpleNamespace

import pytest

from kgforge.session import build_session


def pytest_configure(config):
    config.addinivalue_line("markers", "plan_shape: physical-plan shape checks")


@pytest.fixture(scope="session")
def spark():
    s = build_session(app="kgforge-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def job_group(spark):
    """``with job_group(name) as jobs:`` runs the block under Spark job group
    ``name``. Afterwards ``jobs.grouped`` holds the ids of the jobs in that
    group, and ``jobs.outside`` those of the jobs started in no group while
    the block ran (on any thread)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    @contextlib.contextmanager
    def run(name):
        jobs = SimpleNamespace(grouped=set(), outside=set())
        # older jobs may age out of the tracker, so compare as sets
        before = set(tracker.getJobIdsForGroup(None))
        sc.setJobGroup(name, name)
        try:
            yield jobs
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.grouped = set(tracker.getJobIdsForGroup(name))
            jobs.outside = set(tracker.getJobIdsForGroup(None)) - before

    return run
