"""fixpoint.iterate and the operators that run through it: the loop's
lifecycle (release on failure, job descriptions) and randomized
equivalence of every migrated loop against an independent Python or
numpy reference (connected components incl. DBSCAN, k-core, SSSP, the
D8 closures)."""

import collections
import heapq
import inspect
import pathlib
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_cube_utilities_spark.operators import (fixpoint, graph, rasterops,
                                                 spatial)


RNG = np.random.RandomState(2026)


# ---------------------------------------------------------------------------
# the loop itself
# ---------------------------------------------------------------------------

def _bump(df):
    return df.select(F.least(F.col("id") + 1, F.lit(5)).alias("id"))


def test_iterate_stops_at_unchanged_stats_and_reports_truncation(spark):
    out, conv = fixpoint.iterate(spark.range(3), _bump,
                                 [F.sum("id").alias("s")], 10)
    assert conv and sorted(r.id for r in out.collect()) == [5, 5, 5]
    out, conv = fixpoint.iterate(spark.range(3), _bump,
                                 [F.sum("id").alias("s")], 2)
    assert not conv and sorted(r.id for r in out.collect()) == [2, 3, 4]
    out, conv = fixpoint.iterate(spark.range(3), _bump,
                                 [F.sum("id").alias("s")], 0)
    assert not conv and sorted(r.id for r in out.collect()) == [0, 1, 2]


def test_iterate_failing_step_releases_everything(spark, cached_ids):
    before = cached_ids()
    calls = []

    def raise_in_round_2(df):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("step failed")
        return _bump(df)

    with pytest.raises(RuntimeError, match="step failed"):
        fixpoint.iterate(spark.range(50), raise_in_round_2,
                         [F.sum("id").alias("s")], 5)
    assert cached_ids() == before

    # the same when the round's Spark job fails, not the Python step
    def fail_job_in_round_2(df):
        return df.select(F.when(F.col("id") >= 51,
                                F.raise_error(F.lit("job failed")))
                          .otherwise(F.col("id") + 1).alias("id"))

    with pytest.raises(Exception, match="job failed"):
        fixpoint.iterate(spark.range(50), fail_job_in_round_2,
                         [F.sum("id").alias("s")], 5)
    assert cached_ids() == before


def test_iterate_tags_rounds_and_restores_caller_description(spark):
    sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller work")
    seen = []

    def step(df):
        seen.append(sc.getLocalProperty("spark.job.description"))
        return _bump(df)

    try:
        fixpoint.iterate(spark.range(3), step, [F.sum("id").alias("s")], 2,
                         name="bump")
        assert seen == ["bump round 1 s=3", "bump round 2 s=6"]
        assert sc.getLocalProperty("spark.job.description") == "caller work"
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_materialized_releases_its_checkpoint(spark, cached_ids):
    before = cached_ids()
    with fixpoint.materialized(spark.range(10).filter("id > 2")) as df:
        assert len(cached_ids()) == len(before) + 1
        assert df.count() == 7
    assert cached_ids() == before
    ck = spark.range(10).localCheckpoint(eager=True)
    assert len(cached_ids()) == len(before) + 1
    with fixpoint.materialized(ck):
        assert len(cached_ids()) == len(before) + 1   # not stored twice
    assert cached_ids() == before
    with pytest.raises(ZeroDivisionError):
        with fixpoint.materialized(spark.range(10)):
            1 / 0
    assert cached_ids() == before


def test_only_fixpoint_persists_or_unpersists():
    """One materialize/release lifecycle: no package module other than
    operators/fixpoint.py calls .persist(, .unpersist(, .cache() or
    .localCheckpoint( — except the one lazy pin d8_flow_grid keeps
    inside the plan it returns."""
    own = pathlib.Path(fixpoint.__file__)
    pkg = own.parents[1]
    lazy_pin = ".localCheckpoint(eager=False)"
    d8 = inspect.getsource(spatial.d8_flow_grid)
    assert d8.count(lazy_pin) == 1

    def text(p):
        s = p.read_text()
        if p == pathlib.Path(spatial.__file__):
            s = s.replace(d8, d8.replace(lazy_pin, ""))
        return s

    offenders = [f"{p.relative_to(pkg)}:{i}"
                 for p in sorted(pkg.rglob("*.py")) if p != own
                 for i, line in enumerate(text(p).splitlines(), 1)
                 if re.search(r"\.(persist|unpersist|localCheckpoint)\(|"
                              r"\.cache\(\)", line)]
    assert not offenders, offenders


def test_compact_cover_and_funnel_release_their_checkpoints(spark,
                                                            cached_ids):
    """Both operators return driver-built results: every checkpoint they
    take is released before they return."""
    from data_cube_utilities_spark import cells
    from data_cube_utilities_spark.operators import temporal, tiling

    rng = np.random.RandomState(11)
    mixed = np.concatenate([
        cells.children(int(cells.encode(10.0, 10.0, 2)), 4),
        cells.encode(rng.uniform(-60, 60, 40), rng.uniform(-170, 170, 40), 6),
        cells.encode(rng.uniform(-60, 60, 10), rng.uniform(-170, 170, 10), 3),
    ])
    df = spark.createDataFrame([(int(c),) for c in mixed], "cell_id long")
    before = cached_ids()
    assert np.array_equal(tiling.compact_cover(df), cells.compact(mixed))
    assert cached_ids() == before

    ev = spark.createDataFrame(
        [(1, 10, "view"), (1, 20, "click"), (1, 30, "purchase"),
         (2, 10, "click"), (2, 20, "view"), (3, 5, "view"),
         (4, 1, "view"), (4, 2, "click"), (4, 2, "purchase")],
        "user long, t long, step string")
    out = temporal.funnel_steps(ev, ["view", "click", "purchase"])
    assert [r.n_users for r in out.orderBy("step_idx").collect()] == [4, 2, 1]
    assert cached_ids() == before


# ---------------------------------------------------------------------------
# connected components (and DBSCAN on top) vs numpy union-find
# ---------------------------------------------------------------------------

def test_connected_components_matches_union_find(spark):
    for trial in range(3):
        # packed-key-sized ids: the label-sum fixpoint test must not
        # overflow int64
        ids = np.unique(RNG.randint(1, 1 << 62, 80, dtype=np.int64))
        n = len(ids)
        m = 70 + 10 * trial
        a, b = RNG.randint(0, n, m), RNG.randint(0, n, m)
        df = spark.createDataFrame(
            [(int(ids[i]), int(ids[j])) for i, j in zip(a, b)],
            "u long, v long")
        got = {r.u: r.lab
               for r in fixpoint.connected_components(df).collect()}
        roots = rasterops._cc_roots(a, b, n)   # min index == min id
        nodes = set(a) | set(b)
        assert got == {int(ids[i]): int(ids[roots[i]]) for i in nodes}


def _dbscan_ref(xy, eps, min_pts):
    n = len(xy)
    d2 = ((xy[:, None, :] - xy[None, :, :]) ** 2).sum(-1)
    nbr = d2 <= eps * eps
    core = nbr.sum(1) >= min_pts
    a, b = np.nonzero(nbr & core[:, None] & core[None, :])
    lab = rasterops._cc_roots(a, b, n)
    out = {}
    for i in range(n):
        if core[i]:
            out[i] = (True, int(lab[i]))
        else:
            labs = [int(lab[j]) for j in np.nonzero(nbr[i] & core)[0]]
            out[i] = (False, min(labs) if labs else -1)
    return out


def test_dbscan_components_match_union_find(spark):
    for trial in range(3):
        n = 150
        xy = RNG.randint(0, 60, (n, 2)).astype(np.int64)
        df = spark.createDataFrame(
            [(i, int(x), int(y)) for i, (x, y) in enumerate(xy)],
            "pid long, x long, y long")
        got = {r.pid: (r.is_core, r.cluster)
               for r in spatial.dbscan_points(df, eps=4,
                                              min_pts=3 + trial).collect()}
        assert got == _dbscan_ref(xy, 4, 3 + trial)


# ---------------------------------------------------------------------------
# k-core vs a Python peel, SSSP vs Dijkstra
# ---------------------------------------------------------------------------

def _kcore_ref(edges, k):
    alive = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    while True:
        deg = collections.Counter()
        for u, v in alive:
            deg[u] += 1
            deg[v] += 1
        nxt = {(u, v) for u, v in alive if deg[u] >= k and deg[v] >= k}
        if nxt == alive:
            return dict(deg)
        alive = nxt


def test_kcore_matches_python_peel(spark):
    for k in (2, 3, 4):
        n = 40
        edges = [(int(a), int(b)) for a, b in
                 zip(RNG.randint(0, n, 120), RNG.randint(0, n, 120))]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r.node: r.core_degree
               for r in graph.kcore(df, k=k, max_rounds=64).collect()}
        assert got == _kcore_ref(edges, k)


def _dijkstra(edges, sources):
    adj = collections.defaultdict(list)
    for s, d, w in edges:
        if s != d:
            adj[s].append((d, w))
    dist = {s: 0 for s in sources}
    heap = [(0, s) for s in sources]
    while heap:
        d, u = heapq.heappop(heap)
        if d > dist[u]:
            continue
        for v, w in adj[u]:
            if d + w < dist.get(v, 1 << 62):
                dist[v] = d + w
                heapq.heappush(heap, (d + w, v))
    return dist


def test_sssp_matches_dijkstra(spark):
    for trial in range(3):
        n, m = 50, 140
        edges = [(int(a), int(b), int(w)) for a, b, w in
                 zip(RNG.randint(0, n, m), RNG.randint(0, n, m),
                     RNG.randint(0, 20, m))]
        # sources: ids present as an endpoint, so they are graph nodes
        present = sorted({s for s, d, _ in edges if s != d}
                         | {d for s, d, _ in edges if s != d})
        sources = {present[0], present[1 + trial]}
        df = spark.createDataFrame(edges, "src long, dst long, w long")
        got = {r.node: r.dist for r in graph.sssp(
            df, lambda c: c.isin(*sources), max_rounds=n,
            weight_col="w").collect()}
        assert got == _dijkstra(edges, sources)


# ---------------------------------------------------------------------------
# D8 closures vs a Python walker on random DEMs
# ---------------------------------------------------------------------------

def _d8_next(vv):
    def nxt(c):
        best = None
        for dx, dy, code, w in spatial.D8_OFFSETS:
            p = (c[0] + dx, c[1] + dy)
            if p in vv and vv[c] > vv[p]:
                r = (vv[c] - vv[p]) ** 2 * w
                if best is None or r > best[0] or (r == best[0]
                                                   and code < best[1]):
                    best = (r, code, p)
        return best[2] if best else None
    return nxt


def _random_dem(spark, ramp, w=9, h=8):
    # ramp > 0 tilts the noise toward (0, 0): long paths past 2^k hops
    vals = RNG.randint(0, 40, (w, h)) + ramp * np.add.outer(np.arange(w),
                                                           np.arange(h))
    rows = [(ix, iy, int(vals[ix, iy])) for ix in range(w) for iy in range(h)]
    return (spark.createDataFrame(rows, "ix long, iy long, v long"),
            {(ix, iy): v for ix, iy, v in rows})


def test_d8_closures_match_walker(spark):
    for ramp in (0, 12):
        g, vv = _random_dem(spark, ramp)
        nxt = _d8_next(vv)
        up, paths = collections.Counter(), {}
        for c in vv:
            path, cur = [c], nxt(c)
            while cur is not None:
                up[cur] += 1
                path.append(cur)
                cur = nxt(cur)
            paths[c] = path
        acc = {(r.ix, r.iy): r.n_upstream
               for r in spatial.flow_accumulation_grid(g).collect()}
        assert acc == {c: up[c] for c in vv}
        basins = {(r.ix, r.iy): (r.basin_ix, r.basin_iy)
                  for r in spatial.watershed_basins_grid(g).collect()}
        assert basins == {c: p[-1] for c, p in paths.items()}
        assert max(len(p) for p in paths.values()) > 5 or not ramp
        for k in (1, 2):
            # truncated doubling: k rounds walk min(2^k, path) hops
            plen = {(r.ix, r.iy): r.path_len
                    for r in spatial.flow_path_length_grid(
                        g, max_iters=k).collect()}
            assert plen == {c: min(len(p) - 1, 2 ** k)
                            for c, p in paths.items()}
            tb = {(r.ix, r.iy): (r.basin_ix, r.basin_iy)
                  for r in spatial.watershed_basins_grid(
                      g, max_iters=k).collect()}
            assert tb == {c: p[min(len(p) - 1, 2 ** k)]
                          for c, p in paths.items()}
        plen = {(r.ix, r.iy): r.path_len
                for r in spatial.flow_path_length_grid(g).collect()}
        assert plen == {c: len(p) - 1 for c, p in paths.items()}


def test_iterative_operators_keep_only_their_result(spark, cached_ids):
    """Every round's checkpoint and every loop-scoped table is released
    when the operator returns; only the result's own checkpoint stays
    (freed with the result object) — plus, for the D8 family, the input
    grid that d8_flow_grid checkpoints lazily."""
    g, _ = _random_dem(spark, 12)
    edges = spark.createDataFrame(
        [(int(a), int(b)) for a, b in
         zip(RNG.randint(0, 30, 90), RNG.randint(0, 30, 90))],
        "src long, dst long")
    pts = spark.createDataFrame(
        [(i, int(x), int(y)) for i, (x, y) in
         enumerate(RNG.randint(0, 30, (80, 2)))], "pid long, x long, y long")
    traj = spark.createDataFrame(
        [(1, s, s, int(v)) for s, v in enumerate(RNG.randint(0, 9, 30))],
        "traj_id long, seq long, x long, y long")
    calls = [
        (2, lambda: spatial.flow_accumulation_grid(g)),
        (2, lambda: spatial.stream_order_shreve_grid(g)),
        (2, lambda: spatial.watershed_basins_grid(g)),
        (2, lambda: spatial.flow_path_length_grid(g)),
        (1, lambda: spatial.dbscan_points(pts, eps=4, min_pts=3)),
        (1, lambda: spatial.rdp_simplify(traj, eps2_num=2)),
        (1, lambda: graph.kcore(edges, k=2)),
        (1, lambda: graph.sssp(edges, lambda c: c == 0)),
        (1, lambda: graph.pagerank_fixed(edges)),
    ]
    for allowed, call in calls:
        before = cached_ids()
        out = call()
        out.count()
        assert len(set(cached_ids()) - set(before)) <= allowed
        del out
