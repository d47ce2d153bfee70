"""One materialize/release lifecycle: the fixpoint loop, `materialized`
(a table several branches of one operator share, released on exit, also
on error), `checkpoint` (an operator's eager result) and the
connected-components routine.  No other module persists, caches,
unpersists or checkpoints, except the lazy `localCheckpoint(eager=False)`
pin in spatial.d8_flow_grid: it lives inside the lazy plan that
function returns, so no block here could own its release.

An iterated plan must have its lineage cut every round (an unrolled plan
overflows Catalyst's tree by round ~15).  `iterate` cuts it with ONE
eager localCheckpoint per round and computes the convergence statistics
in that same job as DataFrame.observe metrics (the one-pass shared
aggregate of *A Layered Aggregate Engine for Analytics Workloads*,
SIGMOD 2019) — no separate count() job.  On a real cluster swap in
reliable `checkpoint()` so a lost executor replays one round."""

from __future__ import annotations

import operator
from collections.abc import Callable, Iterator, Sequence
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

_DESC = "spark.job.description"


def _checkpoint_id(df: DataFrame):
    """The id of the stored RDD behind a local checkpoint, else None."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        return None
    rdd = plan.rdd()
    return rdd.id() if rdd.getStorageLevel().isValid() else None


def _drop(sc, rdd_id: int) -> None:
    # SparkContext.unpersistRDD, not RDD.unpersist: that one logs a
    # "lineage truncated" warning for every released checkpoint
    sc._jsc.sc().unpersistRDD(rdd_id, False)


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint.  A job that fails leaves its half-made
    checkpoint RDD registered; drop it before re-raising.  The result is
    released with the returned DataFrame object (or by `materialized`)."""
    sc = df.sparkSession.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet())
    try:
        return df.localCheckpoint(eager=True)
    except BaseException:
        for rid in set(sc._jsc.getPersistentRDDs().keySet()) - before:
            _drop(sc, rid)
        raise


def _release(df: DataFrame) -> None:
    _drop(df.sparkSession.sparkContext, _checkpoint_id(df))


def iterate(state: DataFrame, step: Callable[[DataFrame], DataFrame],
            stats: Sequence[Column], max_iters: int,
            until: Callable[[dict, dict], bool] = operator.eq,
            name: str = "iterate") -> tuple[DataFrame, bool]:
    """Run state <- step(state) for at most `max_iters` rounds, each (and
    the seed) one eager localCheckpoint observing `stats` (named
    aggregates) in the same job.  Stops after the first round k where
    until(stats k-1, stats k) holds — by default "unchanged", so pick
    statistics that move whenever the state does.  A round's checkpoint
    is released once the next exists, and all of them on an exception.
    Round k's jobs carry the description "<name> round <k> <stats k-1>";
    the caller's is restored after, the job group never touched.

    Returns (final state, converged); converged is False when the rounds
    ran out first.  Release the final state with `materialized`."""
    def observed(df: DataFrame):
        obs = Observation()
        ck = checkpoint(df.observe(obs, *stats))
        return ck, obs.get

    sc = state.sparkSession.sparkContext
    caller_desc = sc.getLocalProperty(_DESC)
    cur = None
    try:
        sc.setLocalProperty(_DESC, f"{name} seed")
        cur, cur_stats = observed(state)
        for k in range(1, max_iters + 1):
            shown = " ".join(f"{s}={v}" for s, v in cur_stats.items())
            sc.setLocalProperty(_DESC, f"{name} round {k} {shown}")
            nxt, nxt_stats = observed(step(cur))
            _release(cur)
            cur, prev_stats, cur_stats = nxt, cur_stats, nxt_stats
            if until(prev_stats, cur_stats):
                return cur, True
        return cur, False
    except BaseException:
        if cur is not None:
            _release(cur)
        raise
    finally:
        sc.setLocalProperty(_DESC, caller_desc)


@contextmanager
def materialized(df: DataFrame) -> Iterator[DataFrame]:
    """Materialize `df` as an eager local checkpoint for the block and
    release it on exit, also on error.  A local checkpoint (e.g. the
    state `iterate` returns) is used as it is."""
    if _checkpoint_id(df) is None:
        df = checkpoint(df)
    try:
        yield df
    finally:
        _release(df)


def connected_components(edges: DataFrame,
                         max_iters: int = 64) -> DataFrame:
    """Distributed connected components over an int64 edge list (u, v):
    (u, lab) for every node, lab = MINIMUM node id in u's component.
    The DataFrame lift of rasterops._cc_roots' Shiloach-Vishkin shape:
    each round every node takes the min label over itself and its
    neighbors, then pointer-jumps lab <- lab(lab), halving the distance
    to the component minimum — O(log diameter) rounds.  Labels only
    decrease, so an unchanged exact label sum (decimal: packed ids
    would overflow int64) is the fixpoint test."""
    sym = edges.union(edges.select(F.col("v").alias("u"),
                                   F.col("u").alias("v"))).distinct()
    with materialized(sym) as sym:
        def step(lab: DataFrame) -> DataFrame:
            nbr = (sym.join(lab.select(F.col("u").alias("v"),
                                       F.col("lab").alias("vlab")), "v")
                      .groupBy("u").agg(F.min("vlab").alias("nlab")))
            cand = (lab.join(nbr, "u", "left")
                       .select("u", F.least(F.col("lab"),
                                            F.coalesce("nlab", "lab"))
                                .alias("lab")))
            return (cand.join(cand.select(F.col("u").alias("lab"),
                                          F.col("lab").alias("lab2")),
                              "lab", "left")
                        .select("u", F.coalesce("lab2", "lab").alias("lab")))

        return iterate(
            sym.select("u").distinct().withColumn("lab", F.col("u")), step,
            [F.sum(F.col("lab").cast("decimal(38,0)")).alias("lab_sum")],
            max_iters, name="connected_components")[0]
