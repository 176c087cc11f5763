from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from cascading_hive_spark.session import get_session

    wh = tmp_path_factory.mktemp("warehouse")
    s = get_session(
        "tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": str(wh)},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn) -> (result, tasks)``: run ``fn`` under a fresh
    job group and return its result plus the task count of every
    Spark job it launched (one list entry per job). Waits for the
    listener bus to drain first, so a job the status store has not
    yet seen cannot make a zero-job call look clean."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"spark-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)  # raises on timeout
        st = sc.statusTracker()
        tasks = [
            sum(st.getStageInfo(s).numTasks for s in st.getJobInfo(j).stageIds)
            for j in st.getJobIdsForGroup(group)
        ]
        return result, tasks

    return run
