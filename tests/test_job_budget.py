"""Spark-job budgets for the ANN registry queries.

Each query runs once at sf0.001 under its own job group; the number of
Spark jobs it ran (driver round trips: actions, eager checkpoints, AQE
stage materializations) must stay within the committed budget.  A new
count(), collect or checkpoint in the code path fails here instead of
only showing up in traced benchmark runs.  The budgets are the maximum
over 5 runs of the current code.  lsh_ann and pq_adc_topk run their
single query through the batch probe, whose per-query top-k window costs
one shuffle job more than a global TakeOrderedAndProject would.
"""

import pytest

from data_cube_utilities_spark.queries import registry

SF = "/root/testdata/sf0.001"

BUDGET = {
    "cosine_topk": 3,
    "lsh_ann": 9,
    "lsh_ann_batch": 9,
    "lsh_ann_multiprobe": 9,
    "ivf_ann": 9,
    "ivf_ann_exact": 9,
    "pq_adc_topk": 5,
    "ivf_pq_exact": 9,
}


def _jobs(spark, group, call):
    """[(job id, spark.job.description or its call site)] of the Spark
    jobs call() ran, counted through a job group."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    store = sc._jsc.sc().statusStore()
    bus.waitUntilEmpty()
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    bus.waitUntilEmpty()
    out = []
    for j in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        info = store.job(j)
        desc = info.description()
        out.append((j, desc.get() if desc.isDefined() else info.name()))
    return out


@pytest.mark.parametrize("name", list(BUDGET))
def test_ann_query_job_budget(spark, name):
    fn, _sql = registry()[name]
    jobs = _jobs(spark, f"job-budget-{name}",
                 lambda: fn(spark, SF).collect())
    assert len(jobs) <= BUDGET[name], (
        f"{name} ran {len(jobs)} Spark jobs, budget {BUDGET[name]}:\n"
        + "\n".join(f"  job {j}: {d}" for j, d in jobs))
