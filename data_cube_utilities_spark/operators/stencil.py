"""One way to run a grid neighborhood stencil: the offset sets and the two
physical shapes every focal operator (D8 flow, Gi*, Moran's I, the
majority/median/bilateral filters, morphology, Zhang-Suen, LBP/census/
FAST codes, the Sobel folds) is built from.

  join form     `shifted` / `neighbors`: the grid cross-joins a broadcast
                offset table, the keys are shifted by each offset, and
                `neighbors` equi-joins the result back (to the grid itself
                or a second table) on the shifted key — co-partitioned on
                the cell key, never a cartesian of the grid.
  explode form  `fan_out`: each source row is exploded to the cells it
                feeds over a literal offset array (no join), and the
                caller aggregates on the destination key.

Join-form offset rows follow `schema`: its `deltas` columns shift the
keys and any other column (D8 code, Zhang-Suen name, lag) rides along.
Explode-form windows are (d0, d1, extra...) tuples whose extras become
fields of the exploded struct.  Key names, the `by` keys (img, t) and the
offset column names are parameters, so callers keep their own schemas.
"""
# Pinned: the two forms stay separate; folding one into the other changes
# plans (flow_accum's among them).

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ROOK = ((1, 0), (-1, 0), (0, 1), (0, -1))
ROOK_SELF = ((0, 0),) + ROOK
QUEEN_SELF = tuple((dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1))
QUEEN = tuple(o for o in QUEEN_SELF if o != (0, 0))

XY = "dx long, dy long"


def _radius(radius: int) -> range:
    if radius < 0:
        raise ValueError(f"radius must be >= 0, got {radius}")
    return range(-radius, radius + 1)


def span(radius: int) -> list:
    """1-D window: (d,) for d in [-radius, radius]."""
    return [(d,) for d in _radius(radius)]


def square(radius: int) -> list:
    """Chebyshev ball: the (2r+1)^2 box, dx-major."""
    return [(dx, dy) for dx in _radius(radius) for dy in _radius(radius)]


def cross(radius: int) -> list:
    """Manhattan ball (von Neumann diamond): |dx| + |dy| <= r."""
    return [(dx, dy) for dx, dy in square(radius)
            if abs(dx) + abs(dy) <= radius]


def disk(radius: int) -> list:
    """Euclidean ball: dx^2 + dy^2 <= r^2."""
    return [(dx, dy) for dx, dy in square(radius)
            if dx * dx + dy * dy <= radius * radius]


def _col(k) -> Column:
    return F.col(k) if isinstance(k, str) else k


def shifted(df: DataFrame, offs: Sequence[tuple],
            keys: Sequence = ("ix", "iy"), to: Sequence[str] = ("jx", "jy"),
            schema: str = XY, deltas: Sequence[str] = ("dx", "dy"),
            keep: Sequence | None = None,
            inline: bool = False) -> DataFrame:
    """Join form, first half: every row of `df` paired with every offset
    row (a broadcast table of `schema`; its `deltas` columns are added to
    `keys`, names or Columns, giving `to`).  keep=None keeps every column
    and the offset columns; otherwise the result is `keep` + `to`.
    inline=True pairs by exploding a literal offset array instead of a
    cross join, so the plan holds no second relation (the event-stream
    probe of streaming.space_time_pair_stream)."""
    if inline:
        paired = df.withColumn("o", F.explode(F.array(*[
            F.struct(*[F.lit(v).alias(d) for v, d in zip(o, deltas)])
            for o in offs])))
        deltas = [f"o.{d}" for d in deltas]
    else:
        paired = df.crossJoin(F.broadcast(
            df.sparkSession.createDataFrame(list(offs), schema)))
    if keep is not None:
        return paired.select(*keep, *[(_col(k) + F.col(d)).alias(t)
                                      for k, d, t in zip(keys, deltas, to)])
    for k, d, t in zip(keys, deltas, to):
        paired = paired.withColumn(t, _col(k) + F.col(d))
    return paired


def neighbors(df: DataFrame, offs: Sequence[tuple], other: DataFrame,
              keys: Sequence = ("ix", "iy"),
              to: Sequence[str] = ("jx", "jy"), by: Sequence[str] = (),
              **kw) -> DataFrame:
    """Join form: `shifted` inner-joined to `other` on `by` + `to` — one
    row per (row, offset) whose shifted cell exists in `other`."""
    return shifted(df, offs, keys, to, **kw).join(other, [*by, *to])


def fan_out(df: DataFrame, window: Sequence[tuple],
            keys: Sequence[str] = ("x", "y"),
            to: Sequence[str] = ("cx", "cy"), fields: Sequence[str] = (),
            by: Sequence = ("img",), carry: Sequence = (), sign: int = -1,
            flat: bool = True) -> DataFrame:
    """Explode form: each row becomes one row per window offset, struct
    `o` holding the fed cell `to` (key - d for sign=-1: the centers that
    see this row at offset d; key + d for sign=+1) and the offset's extra
    values as `fields`.  Columns: `by`, `o`, `carry`.  flat=True unpacks
    `o` into `by`, `keys` (the fed cell), `fields`, then `carry`."""
    n = len(keys)
    out = df.select(*by, F.explode(F.array(*[
        F.struct(*[(F.col(k) - d if sign < 0 else F.col(k) + d).alias(t)
                   for k, d, t in zip(keys, w, to)],
                 *[F.lit(v).alias(f) for f, v in zip(fields, w[n:])])
        for w in window])).alias("o"), *carry)
    if not flat:
        return out
    return out.select(*by, *[F.col(f"o.{t}").alias(k)
                             for t, k in zip(to, keys)],
                      *[F.col(f"o.{f}").alias(f) for f in fields],
                      *out.columns[len(by) + 1:])
