import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from data_cube_utilities_spark.session import get_spark

    s = get_spark("geocube-tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture
def cached_ids(spark):
    """Snapshot function for the session's persisted RDDs (cache and
    local-checkpoint blocks): returns {rdd id: RDD description}."""
    def snapshot():
        m = spark.sparkContext._jsc.getPersistentRDDs()
        out, it = {}, m.entrySet().iterator()
        while it.hasNext():
            e = it.next()
            out[int(e.getKey())] = e.getValue().toString()
        return out

    return snapshot


@pytest.fixture
def executed_plans(spark):
    """executed_plans(call) -> (call(), the physical plan descriptions of
    the SQL executions the call ran, oldest first).  Each description is
    the final adaptive plan with node arguments, so an operator that
    checkpoints its result still shows the plan of every job it ran."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def newest_first():
        bus.waitUntilEmpty()
        for off in range(store.executionsCount() - 1, -1, -1):
            yield store.executionsList(off, 1).apply(0)

    def run(call):
        before = next((e.executionId() for e in newest_first()), -1)
        out = call()
        plans = []
        for e in newest_first():
            if e.executionId() <= before:
                break
            plans.append(e.physicalPlanDescription())
        return out, plans[::-1]

    return run
