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
