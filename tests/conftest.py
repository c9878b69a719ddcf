from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from spatially_databricks_etl_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    wh = tmp_path_factory.mktemp("spark_warehouse")
    s = get_spark(
        app_name="tests",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": str(wh)},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` under a fresh Spark job group
    and returns ``(fn(), number of jobs the call scheduled)``, counted
    through ``statusTracker().getJobIdsForGroup`` once the status store
    has caught up with the listener bus."""
    import time
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        seen, n = -1, len(sc.statusTracker().getJobIdsForGroup(group))
        while n != seen:
            time.sleep(0.2)
            seen, n = n, len(sc.statusTracker().getJobIdsForGroup(group))
        return out, n

    return run
