import os
import sys
import uuid

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark import (  # noqa: E402
    get_spark,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="engine-tests", cpus=8, driver_memory="8g")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def run_tagged(spark):
    """``run_tagged(fn)`` runs ``fn()`` in a fresh job group and returns
    ``(fn(), jobs, tasks)``: the Spark jobs it ran and their completed
    tasks, read from the status tracker (no extra Spark job) after the
    listener bus has drained — the tracker is fed asynchronously and can
    lag the last job."""

    def run(fn):
        sc, group = spark.sparkContext, f"tagged-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
        infos = [tracker.getStageInfo(s) for s in stages]
        tasks = sum(i.numCompletedTasks for i in infos if i is not None)
        return out, len(jobs), tasks

    return run
