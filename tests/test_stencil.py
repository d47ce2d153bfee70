"""operators/stencil.py: the offset sets, both physical forms against a
pure-Python neighbor enumeration on randomized sparse grids, the
negative-radius contract of the operators built on it, and the guard
that keeps every grid-offset shift inside the module."""

import inspect
import pathlib
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_cube_utilities_spark.operators import rasterops, spatial, stencil


RNG = np.random.RandomState(4242)


def _sparse(n, density, by=(None,)):
    """Random sparse n x n grid (holes, borders) per `by` value:
    {(b, x, y): v}."""
    return {(b, x, y): int(RNG.randint(0, 50))
            for b in by for x in range(n) for y in range(n)
            if RNG.rand() < density}


def test_offset_sets():
    assert stencil.ROOK_SELF[0] == (0, 0)
    assert set(stencil.ROOK_SELF[1:]) == {(1, 0), (-1, 0), (0, 1), (0, -1)}
    assert len(stencil.QUEEN_SELF) == 9 and len(stencil.QUEEN) == 8
    assert stencil.QUEEN == tuple(o for o in stencil.QUEEN_SELF if o != (0, 0))
    assert stencil.square(0) == stencil.cross(0) == stencil.disk(0) == [(0, 0)]
    assert stencil.square(1) == list(stencil.QUEEN_SELF)
    assert len(stencil.square(2)) == 25 and len(stencil.cross(2)) == 13
    assert len(stencil.disk(3)) == 29
    assert stencil.span(1) == [(-1,), (0,), (1,)]
    for fn in (stencil.span, stencil.square, stencil.cross, stencil.disk):
        with pytest.raises(ValueError, match="radius must be >= 0"):
            fn(-1)


@pytest.mark.parametrize("offs", [stencil.ROOK, stencil.QUEEN_SELF,
                                  stencil.disk(2)])
def test_neighbors_matches_enumeration_with_by_key(spark, offs):
    """Self-join over a sparse grid sliced by t: only same-slice cells
    whose shifted key exists pair up; holes and borders drop rows."""
    grid = _sparse(7, 0.6, by=(0, 1, 2))
    g = spark.createDataFrame([(t, x, y, v) for (t, x, y), v in grid.items()],
                              "t long, ix long, iy long, v long")
    nbr = g.select("t", F.col("ix").alias("jx"), F.col("iy").alias("jy"),
                   F.col("v").alias("vj"))
    got = sorted(tuple(r) for r in stencil.neighbors(g, offs, nbr, by=("t",))
                 .select("t", "ix", "iy", "jx", "jy", "v", "vj").collect())
    want = sorted((t, x, y, x + dx, y + dy, v, grid[(t, x + dx, y + dy)])
                  for (t, x, y), v in grid.items() for dx, dy in offs
                  if (t, x + dx, y + dy) in grid)
    assert got == want


def test_neighbors_second_table_extra_columns_and_key_names(spark):
    """A second table, offset rows carrying extra columns, keys other
    than ix/iy, and the keep= projection all pair like the enumeration."""
    a = _sparse(8, 0.5)
    b = _sparse(8, 0.5)
    offs = [(dx, dy, 10 * dx + dy, f"o{dx}{dy}")
            for dx, dy in stencil.cross(2)]
    da = spark.createDataFrame([(x, y, v) for (_, x, y), v in a.items()],
                               "q long, r long, v long")
    db = spark.createDataFrame([(x, y, v) for (_, x, y), v in b.items()],
                               "nq long, nr long, w long")
    schema = "dq long, dr long, code long, nm string"
    kw = dict(keys=("q", "r"), to=("nq", "nr"), schema=schema,
              deltas=("dq", "dr"))
    got = sorted(tuple(r) for r in stencil.neighbors(da, offs, db, **kw)
                 .select("q", "r", "nq", "nr", "code", "nm", "v", "w")
                 .collect())
    want = sorted((x, y, x + dx, y + dy, c, nm, v, b[(None, x + dx, y + dy)])
                  for (_, x, y), v in a.items() for dx, dy, c, nm in offs
                  if (None, x + dx, y + dy) in b)
    assert got == want
    kept = stencil.neighbors(da, offs, db, keep=("v",), **kw)
    assert kept.columns == ["nq", "nr", "v", "w"]
    assert sorted((r.v, r.w) for r in kept.collect()) == \
        sorted((t[6], t[7]) for t in want)


def test_shifted_inline_matches_cross_join(spark):
    """The stream-safe inline pairing yields the cross-join rows."""
    pts = spark.createDataFrame(
        [(i, int(RNG.randint(0, 40)), int(RNG.randint(0, 40)))
         for i in range(30)], "id long, x long, y long")
    keys = (F.floor(F.col("x") / 7), F.floor(F.col("y") / 7))
    rows = [sorted(tuple(r) for r in stencil.shifted(
                pts, stencil.QUEEN_SELF, keys=keys, to=("bx", "by"),
                keep=("id",), inline=inline).collect())
            for inline in (False, True)]
    want = sorted((i, x // 7 + dx, y // 7 + dy)
                  for i, x, y in [tuple(r) for r in pts.collect()]
                  for dx, dy in stencil.QUEEN_SELF)
    assert rows[0] == rows[1] == want


@pytest.mark.parametrize("sign", [-1, 1])
def test_fan_out_matches_enumeration(spark, sign):
    """Explode form: every (source, offset) feeds key + sign*d, carrying
    the offset's fields and the source's carried columns; flat and
    struct shapes agree."""
    grid = _sparse(6, 0.7, by=(3, 5))
    p = spark.createDataFrame([(k, x, y, v) for (k, x, y), v in grid.items()],
                              "img long, x long, y long, v long")
    window = [(dx, dy, 1 << i) for i, (dx, dy) in enumerate(stencil.QUEEN)]
    want = sorted((k, x + sign * dx, y + sign * dy, w, v)
                  for (k, x, y), v in grid.items() for dx, dy, w in window)
    flat = stencil.fan_out(p, window, fields=("w",), sign=sign,
                           carry=[F.col("v").alias("nv")])
    assert flat.columns == ["img", "x", "y", "w", "nv"]
    assert sorted(tuple(r) for r in flat.collect()) == want
    nested = stencil.fan_out(p, window, fields=("w",), sign=sign,
                             carry=["v"], flat=False)
    assert sorted(tuple(r) for r in nested.select(
        "img", "o.cx", "o.cy", "o.w", "v").collect()) == want


def test_negative_radius_raises_and_zero_is_identity(spark):
    cells = spark.createDataFrame([(x, y) for x in range(4) for y in range(4)],
                                  "x long, y long")
    for call in (lambda: rasterops.dilate_cells(cells, radius=-1),
                 lambda: rasterops.erode_cells(cells, radius=-1),
                 lambda: rasterops.open_cells(cells, radius=-1),
                 lambda: spatial.kde_surface(cells, radius=-1)):
        with pytest.raises(ValueError, match="radius"):
            call().collect()
    assert rasterops.dilate_cells(cells, radius=0).count() == 16


# ---------------------------------------------------------------------------
# guard: only operators/stencil.py shifts a grid key by an offset
# ---------------------------------------------------------------------------

SHIFT = (r'\+ F\.col\("(o\.)?d[xyqrt]"\)'
         r'|F\.col\("\w+"\) [+-] d[xy]\)'
         r'|for d[xy] in \(-1, 0, 1\)|\(1, 0\), \(-1, 0\)')

# The three sites that keep a hand-written shift, matched by content.
EXEMPT = [
    (rasterops.canny_edges_long,
     ['(F.col("x") + F.col("o.dx")).alias("jx")',
      '(F.col("y") + F.col("o.dy")).alias("jy")'],
     "NMS sector probe: its offsets come from each pixel's gradient "
     "sector (data), not from a fixed offset set"),
    (rasterops.glcm_features_long,
     ['(F.col("x") - dx).alias("x")', '(F.col("y") - dy).alias("y")'],
     "one fixed co-occurrence shift joined once; no offset table"),
    (rasterops.region_topology_long,
     ['(F.col("ix") - dx).alias("ix")', '(F.col("iy") - dy).alias("iy")'],
     "three fixed E/S/SE shifts each joined once; no offset table"),
]


def test_only_stencil_shifts_grid_keys():
    own = pathlib.Path(stencil.__file__)
    pkg = own.parents[1]
    texts = {p: p.read_text() for p in sorted(pkg.rglob("*.py")) if p != own}
    for fn, snippets, _why in EXEMPT:
        src = inspect.getsource(fn)
        path = pathlib.Path(inspect.getsourcefile(fn))
        cut = src
        for snip in snippets:
            assert src.count(snip) == 1, (fn.__name__, snip)
            cut = cut.replace(snip, "")
        assert texts[path].count(src) == 1
        texts[path] = texts[path].replace(src, cut)
    offenders = [f"{p.relative_to(pkg)}:{i}: {line.strip()}"
                 for p, s in texts.items()
                 for i, line in enumerate(s.splitlines(), 1)
                 if re.search(SHIFT, line)]
    assert not offenders, offenders
