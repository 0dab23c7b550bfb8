import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from suggest_spark.plans.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="suggest_spark_tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@contextmanager
def _job_group(sc, group):
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setJobGroup(None, None)


def _rdd_names(sc, group) -> list[str]:
    """Names of every RDD in the stages of the jobs run under ``group``,
    from the status store's per-stage operation graphs."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    names = []

    def walk(cluster):
        nodes, kids = cluster.childNodes(), cluster.childClusters()
        names.extend(nodes.apply(i).name() for i in range(nodes.size()))
        for i in range(kids.size()):
            walk(kids.apply(i))

    for j in tracker.getJobIdsForGroup(group):
        for s in tracker.getJobInfo(j).stageIds:
            walk(store.operationGraphForStage(s).rootCluster())
    return names
