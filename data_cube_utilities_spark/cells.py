"""geocell — batched hierarchical spatial cell index (H3/S2-style).

The engine's spine: tile assignment, spatial partitioning, PIP acceleration
and kNN ring expansion all key off an int64 ``cell_id``. No h3/s2 library is
available in this environment, so the index is a from-scratch hierarchical
equirectangular quadtree with the same *API shape* as H3/S2:

  encode(lat, lon, res)      -> cell_id           (batched numpy)
  parent / children          -> hierarchy walk     (H3 parent/children)
  k_ring(cell, k)            -> neighbor disk      (H3 kRing)
  compact / uncompact        -> multi-res cover    (H3 compact)
  cell_bounds / cell_center  -> geometry bridge

Layout of the 63-bit id (always positive, sorts by (res, north->south, west->east)):

  bits 58..62 : resolution r in [0, 28]
  bits 29..57 : iy  row index, 0 at the NORTH pole (matches the reference's
                descending-latitude convention, dc_chunker.py:121-125)
  bits  0..28 : ix  column index, 0 at lon=-180

At resolution r the grid is ny = 2^r rows x nx = 2^(r+1) columns
(2:1 like the plate carree projection), so every cell is ~square in degrees:
res 0 = 180 deg cells, res 7 = 1.40625 deg, res 12 = 0.0439 deg (~4.9 km).

Everything is pure integer/float arithmetic, so the encoder has an exact
ANSI-SQL twin (``encode_sql``) used by the DuckDB correctness oracle, and a
Spark Column twin (``encode_col``) that stays inside whole-stage codegen —
no UDF on the hot path.

Reference parity: replaces the geographic chunking of
data_cube_utilities/dc_chunker.py:8-85 (tiles become cells) and the
nearest-cell lookup of data_cube_utilities/transect/xarraypath.py:3-13.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from .operators import stencil

RES_SHIFT = 58
IY_SHIFT = 29
MAX_RES = 28

_RES_MULT = 1 << RES_SHIFT
_IY_MULT = 1 << IY_SHIFT


def _grid_dims(res: int) -> tuple[int, int]:
    """(ny, nx) at resolution res."""
    return 1 << res, 1 << (res + 1)


# ---------------------------------------------------------------------------
# batched numpy encode/decode (used inside pandas UDFs and the synthesizer)
# ---------------------------------------------------------------------------

def encode(lat, lon, res: int):
    """lat/lon (deg, arrays or scalars) -> int64 cell ids at `res`.

    Vectorized; clamps lat to [-90, 90], wraps lon into [-180, 180).
    """
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    ny, nx = _grid_dims(res)
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    lon = ((lon + 180.0) % 360.0) - 180.0
    ix = np.floor((lon + 180.0) / 360.0 * nx).astype(np.int64)
    ix = np.clip(ix, 0, nx - 1)
    # iy = 0 at the north pole (lat = +90)
    iy = np.floor((90.0 - lat) / 180.0 * ny).astype(np.int64)
    iy = np.clip(iy, 0, ny - 1)
    return (np.int64(res) << RES_SHIFT) | (iy << IY_SHIFT) | ix


def encode_scalar_reference(lat: float, lon: float, res: int) -> int:
    """Slow, obviously-correct scalar twin of `encode` for golden tests."""
    ny, nx = _grid_dims(res)
    lon = ((lon + 180.0) % 360.0) - 180.0
    ix = min(max(int((lon + 180.0) / 360.0 * nx), 0), nx - 1)
    iy = min(max(int((90.0 - lat) / 180.0 * ny), 0), ny - 1)
    return (res << RES_SHIFT) | (iy << IY_SHIFT) | ix


def decode(cell_id):
    """int64 cell ids -> (res, iy, ix) arrays."""
    cell_id = np.asarray(cell_id, dtype=np.int64)
    res = (cell_id >> RES_SHIFT).astype(np.int64)
    iy = (cell_id >> IY_SHIFT) & (_IY_MULT - 1)
    ix = cell_id & (_IY_MULT - 1)
    return res, iy, ix


def cell_res(cell_id):
    return np.asarray(cell_id, dtype=np.int64) >> RES_SHIFT


def cell_bounds(cell_id):
    """cell ids -> (lat_south, lat_north, lon_west, lon_east) deg arrays."""
    res, iy, ix = decode(cell_id)
    ny = (np.int64(1) << res).astype(np.float64)
    nx = (np.int64(1) << (res + 1)).astype(np.float64)
    lat_n = 90.0 - iy / ny * 180.0
    lat_s = 90.0 - (iy + 1) / ny * 180.0
    lon_w = -180.0 + ix / nx * 360.0
    lon_e = -180.0 + (ix + 1) / nx * 360.0
    return lat_s, lat_n, lon_w, lon_e


def cell_center(cell_id):
    lat_s, lat_n, lon_w, lon_e = cell_bounds(cell_id)
    return (lat_s + lat_n) / 2.0, (lon_w + lon_e) / 2.0


# ---------------------------------------------------------------------------
# hierarchy
# ---------------------------------------------------------------------------

def parent(cell_id, parent_res: int | None = None):
    """Ancestor cell at `parent_res` (default: res-1)."""
    res, iy, ix = decode(cell_id)
    if parent_res is None:
        pres = res - 1
    else:
        pres = np.full_like(res, parent_res)
    if np.any(pres < 0) or np.any(pres > res):
        raise ValueError("parent_res must be in [0, res]")
    shift = res - pres
    return (pres << RES_SHIFT) | ((iy >> shift) << IY_SHIFT) | (ix >> shift)


def children(cell_id: int, child_res: int | None = None) -> np.ndarray:
    """All descendant cells of one cell at `child_res` (default res+1)."""
    res, iy, ix = decode(np.int64(cell_id))
    res, iy, ix = int(res), int(iy), int(ix)
    cres = res + 1 if child_res is None else child_res
    if cres < res or cres > MAX_RES:
        raise ValueError("child_res out of range")
    s = cres - res
    n = 1 << s
    cy = (iy << s) + np.arange(n, dtype=np.int64)[:, None]
    cx = (ix << s) + np.arange(n, dtype=np.int64)[None, :]
    return ((np.int64(cres) << RES_SHIFT) | (cy << IY_SHIFT) | cx).ravel()


def k_ring(cell_id: int, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k on the grid (the H3 kRing
    analogue). Wraps in longitude; clips at the poles. Includes the center."""
    res, iy, ix = decode(np.int64(cell_id))
    res, iy, ix = int(res), int(iy), int(ix)
    ny, nx = _grid_dims(res)
    dy = np.arange(-k, k + 1, dtype=np.int64)
    yy = iy + dy
    yy = yy[(yy >= 0) & (yy < ny)]
    xx = (ix + np.arange(-k, k + 1, dtype=np.int64)) % nx
    cy, cx = np.meshgrid(yy, xx, indexing="ij")
    out = (np.int64(res) << RES_SHIFT) | (cy << IY_SHIFT) | cx
    return np.unique(out.ravel())


def ring(cell_id: int, k: int) -> np.ndarray:
    """The hollow ring at exactly Chebyshev distance k (H3 hexRing analogue)."""
    if k == 0:
        return np.asarray([cell_id], dtype=np.int64)
    outer = k_ring(cell_id, k)
    inner = k_ring(cell_id, k - 1)
    return np.setdiff1d(outer, inner, assume_unique=True)


def compact(cell_ids) -> np.ndarray:
    """Replace every complete set of 4 siblings by their parent, recursively
    (the H3 compact analogue). Input cells may be mixed-resolution; output
    covers exactly the same area with the minimum number of cells."""
    cells = np.unique(np.asarray(cell_ids, dtype=np.int64))
    if cells.size == 0:
        return cells
    frozen = []   # max-res cells proven un-promotable; set aside, keep going
    while True:
        res = cell_res(cells)
        max_r = int(res.max(initial=0))
        if max_r == 0:
            break
        at_max = cells[res == max_r]
        keep = cells[res != max_r]
        par = parent(at_max)
        uniq, counts = np.unique(par, return_counts=True)
        promoted = uniq[counts == 4]
        # Un-promotable deepest cells can never merge again — freeze them and
        # continue at the next-shallower resolution instead of returning
        # (ADVICE r1: the early return left complete sibling sets at
        # shallower resolutions uncompacted).
        frozen.append(at_max[~np.isin(par, promoted)])
        cells = np.unique(np.concatenate([keep, promoted]))
        if cells.size == 0:
            break
    frozen.append(cells)
    return np.unique(np.concatenate(frozen))


def uncompact(cell_ids, res: int) -> np.ndarray:
    """Expand a (possibly compacted) cover to uniform resolution `res`."""
    cells = np.asarray(cell_ids, dtype=np.int64)
    out = [children(int(c), res) if int(cell_res(c)) < res else np.asarray([c])
           for c in cells]
    return np.unique(np.concatenate(out)) if out else cells


def polyfill_bbox(lat_min: float, lat_max: float, lon_min: float, lon_max: float,
                  res: int) -> np.ndarray:
    """All cells at `res` intersecting a lat/lon box (H3 polyfill for boxes)."""
    ny, nx = _grid_dims(res)
    iy0 = int(np.clip(np.floor((90.0 - lat_max) / 180.0 * ny), 0, ny - 1))
    iy1 = int(np.clip(np.floor((90.0 - lat_min) / 180.0 * ny - 1e-12), 0, ny - 1))
    ix0 = int(np.clip(np.floor((lon_min + 180.0) / 360.0 * nx), 0, nx - 1))
    ix1 = int(np.clip(np.floor((lon_max + 180.0) / 360.0 * nx - 1e-12), 0, nx - 1))
    yy = np.arange(iy0, iy1 + 1, dtype=np.int64)
    xx = np.arange(ix0, ix1 + 1, dtype=np.int64)
    cy, cx = np.meshgrid(yy, xx, indexing="ij")
    return ((np.int64(res) << RES_SHIFT) | (cy << IY_SHIFT) | cx).ravel()


# ---------------------------------------------------------------------------
# Spark Column / SQL twins — the hot path stays JVM-side (codegen), no UDF
# ---------------------------------------------------------------------------

def encode_col(lat: Column, lon: Column, res: int) -> Column:
    """Column-expression twin of `encode` (whole-stage-codegen friendly)."""
    ny, nx = _grid_dims(res)
    # floor-based wrap (Spark's % keeps the dividend's sign; numpy's doesn't)
    shifted = lon + F.lit(180.0)
    lon_w = shifted - F.lit(360.0) * F.floor(shifted / F.lit(360.0)) - F.lit(180.0)
    ix = F.floor((lon_w + 180.0) / 360.0 * nx).cast("long")
    ix = F.least(F.greatest(ix, F.lit(0)), F.lit(nx - 1))
    iy = F.floor((F.lit(90.0) - lat) / 180.0 * ny).cast("long")
    iy = F.least(F.greatest(iy, F.lit(0)), F.lit(ny - 1))
    return (F.lit(res * _RES_MULT) + iy * F.lit(_IY_MULT) + ix).alias("cell_id")


def encode_sql(lat_expr: str, lon_expr: str, res: int) -> str:
    """ANSI-SQL twin of `encode` for the DuckDB oracle. Exact same arithmetic."""
    ny, nx = _grid_dims(res)
    lon_w = f"(( ({lon_expr}) + 180.0) - 360.0 * floor((({lon_expr}) + 180.0)/360.0) - 180.0)"
    ix = f"least(greatest(CAST(floor(({lon_w} + 180.0)/360.0 * {nx}) AS BIGINT), 0), {nx - 1})"
    iy = f"least(greatest(CAST(floor((90.0 - ({lat_expr}))/180.0 * {ny}) AS BIGINT), 0), {ny - 1})"
    return f"({res} * CAST({_RES_MULT} AS BIGINT) + {iy} * CAST({_IY_MULT} AS BIGINT) + {ix})"


# -- Z-order (Morton) spatial clustering key --------------------------------
# The data-layout half of the tiling story (Iceberg's rewrite-with-zorder):
# interleaving the quantized (iy, ix) bits gives a 1-D sort key whose order
# preserves 2-D locality, so range-partitioned + sorted parquet gets tight
# per-file lat/lon min/max — manifest and row-group pruning then skip most
# files for any bbox scan. Spread steps are the classic magic-mask Morton
# encode; bits <= 16 (a 2^16 x 2^16 grid, z < 2^33).

_Z_STEPS = [(16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF),
            (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333),
            (1, 0x5555555555555555)]


def zorder_np(ix, iy, bits: int = 16):
    """numpy reference: interleave ix (even bits) with iy (odd bits)."""
    if bits > 16:
        raise ValueError("bits must be <= 16")

    def spread(v):
        v = np.asarray(v, dtype=np.int64) & ((1 << bits) - 1)
        for s, m in _Z_STEPS:
            v = (v | (v << s)) & m
        return v

    return spread(ix) | (spread(iy) << 1)


def _quant_col(lat: Column, lon: Column, bits: int) -> tuple[Column, Column]:
    n = 1 << bits
    shifted = lon + F.lit(180.0)
    lon_w = shifted - F.lit(360.0) * F.floor(shifted / F.lit(360.0)) - F.lit(180.0)
    ix = F.floor((lon_w + 180.0) / 360.0 * n).cast("long")
    ix = F.least(F.greatest(ix, F.lit(0)), F.lit(n - 1))
    iy = F.floor((F.lit(90.0) - lat) / 180.0 * n).cast("long")
    iy = F.least(F.greatest(iy, F.lit(0)), F.lit(n - 1))
    return ix, iy


def zorder_col(lat: Column, lon: Column, bits: int = 16) -> Column:
    """Column twin of zorder_np over quantized lat/lon (same grid
    arithmetic as encode_col) — pure codegen, no UDF."""
    if bits > 16:
        raise ValueError("bits must be <= 16")

    def spread(v: Column) -> Column:
        v = v.bitwiseAND(F.lit((1 << bits) - 1))
        for s, m in _Z_STEPS:
            v = (v.bitwiseOR(F.shiftleft(v, s))).bitwiseAND(F.lit(m))
        return v

    ix, iy = _quant_col(lat, lon, bits)
    return spread(ix).bitwiseOR(F.shiftleft(spread(iy), 1)).alias("zkey")


def zorder_sql(lat_expr: str, lon_expr: str, bits: int = 16) -> str:
    """ANSI-SQL twin for the DuckDB oracle — identical arithmetic."""
    if bits > 16:
        raise ValueError("bits must be <= 16")
    n = 1 << bits
    lon_w = (f"(( ({lon_expr}) + 180.0) - 360.0 * "
             f"floor((({lon_expr}) + 180.0)/360.0) - 180.0)")
    ix = (f"least(greatest(CAST(floor(({lon_w} + 180.0)/360.0 * {n}) "
          f"AS BIGINT), 0), {n - 1})")
    iy = (f"least(greatest(CAST(floor((90.0 - ({lat_expr}))/180.0 * {n}) "
          f"AS BIGINT), 0), {n - 1})")

    def spread(e: str) -> str:
        e = f"(({e}) & {(1 << bits) - 1})"
        for s, m in _Z_STEPS:
            e = f"((({e}) | (({e}) << {s})) & {m})"
        return e

    return f"({spread(ix)} | ({spread(iy)} << 1))"


# ---------------------------------------------------------------------------
# web-map quadkey interop (Bing/XYZ tile naming)
# ---------------------------------------------------------------------------

def quadkey_col(ix_col: str, iy_col: str, z: int):
    """Bing-style quadkey string for a (z, x, y) web-map tile: digit i
    (most significant first) = 2*bit_i(y) + bit_i(x) — the naming every
    slippy-map stack exchanges tiles under.  Pure bit arithmetic inside
    whole-stage codegen; the DuckDB twin concatenates the identical
    digit expressions (quadkey_sql).  The defining property — a tile's
    parent is its quadkey PREFIX — makes the string a joinable
    hierarchy: substr(qk, 1, z-1) = quadkey of (x div 2, y div 2) at
    z-1 (pinned in tests and the driver oracle)."""
    if z <= 0:
        raise ValueError("z must be positive")
    digits = [
        ((F.shiftright(F.col(iy_col).cast("long"), i) % 2) * 2
         + (F.shiftright(F.col(ix_col).cast("long"), i) % 2)).cast("string")
        for i in range(z - 1, -1, -1)]
    return F.concat(*digits)


def quadkey_decode_cols(qk_col: str, z: int):
    """Inverse of quadkey_col: (x, y) Columns recovered from the digit
    string — substring arithmetic only, codegen-friendly."""
    xs, ys = None, None
    for i in range(z):
        d = F.substring(F.col(qk_col), i + 1, 1).cast("long")
        xbit = (d % 2) * (2 ** (z - 1 - i))
        ybit = (d / 2).cast("long") * (2 ** (z - 1 - i))
        xs = xbit if xs is None else xs + xbit
        ys = ybit if ys is None else ys + ybit
    return xs.cast("long"), ys.cast("long")


def quadkey_sql(ix_expr: str, iy_expr: str, z: int) -> str:
    """ANSI-SQL twin of quadkey_col for the DuckDB oracle."""
    parts = [
        f"CAST((({iy_expr}) >> {i}) % 2 * 2 + (({ix_expr}) >> {i}) % 2 "
        "AS VARCHAR)"
        for i in range(z - 1, -1, -1)]
    return " || ".join(parts)


# ---------------------------------------------------------------------------
# Hilbert curve (locality-preserving space-filling key)
# ---------------------------------------------------------------------------

def hilbert_level_exprs(order: int, x_expr: str, y_expr: str):
    """The per-level transform steps of the iterative xy->d Hilbert walk
    (Hamilton's standard formulation), as (name, sql_expr) pairs — ONE
    source of truth consumed both by the Spark Column chain
    (hilbert_with_key) and by the DuckDB oracle twin (hilbert_sql), so
    the two can never drift.  Each level reads the previous level's
    hx/hy/hd, classifies the quadrant ((3*rx) XOR ry spelled as a
    portable CASE), then reflects+transposes the frame.  Everything is
    int64 CASE/bit algebra — whole-stage codegen on the Spark side."""
    if not 1 <= order <= 31:
        raise ValueError("order must be in [1, 31]")
    steps = [("hx0", f"CAST({x_expr} AS BIGINT)"),
             ("hy0", f"CAST({y_expr} AS BIGINT)"),
             ("hd0", "CAST(0 AS BIGINT)")]
    for k, s in enumerate(1 << p for p in reversed(range(order))):
        steps += [
            (f"rx{k}", f"CASE WHEN (hx{k} & {s}) > 0 THEN 1 ELSE 0 END"),
            (f"ry{k}", f"CASE WHEN (hy{k} & {s}) > 0 THEN 1 ELSE 0 END"),
            (f"hd{k + 1}",
             f"hd{k} + {s * s} * (CASE WHEN rx{k} = 0 THEN ry{k} "
             f"ELSE 3 - ry{k} END)"),
            (f"tx{k}", f"CASE WHEN ry{k} = 0 AND rx{k} = 1 "
                       f"THEN {s - 1} - hx{k} ELSE hx{k} END"),
            (f"ty{k}", f"CASE WHEN ry{k} = 0 AND rx{k} = 1 "
                       f"THEN {s - 1} - hy{k} ELSE hy{k} END"),
            (f"hx{k + 1}", f"CASE WHEN ry{k} = 0 THEN ty{k} ELSE tx{k} END"),
            (f"hy{k + 1}", f"CASE WHEN ry{k} = 0 THEN tx{k} ELSE ty{k} END"),
        ]
    return steps, f"hd{order}"


def hilbert_with_key(df, order: int, x_col: str = "x", y_col: str = "y",
                     out_col: str = "hkey"):
    """Append the Hilbert-curve index of (x, y) on the 2^order grid.
    Unlike the Z-order key (zorder_col), consecutive Hilbert keys are
    ALWAYS 4-neighbors — so sorting/range-bucketing by hkey gives
    strictly better spatial locality for range scans and partition
    pruning (no Z-shape jumps across the map).  Use as the sort/bucket
    key when writing tiled imagery so co-located tiles land in the
    same file/row-group."""
    steps, final = hilbert_level_exprs(order, x_col, y_col)
    out = df
    for name, expr in steps:
        out = out.withColumn(name, F.expr(expr))
    return (out.withColumn(out_col, F.col(final))
               .drop(*[n for n, _ in steps]))


def hilbert_sql(order: int, x_expr: str, y_expr: str,
                from_sql: str, carry_cols: str) -> str:
    """DuckDB oracle twin of hilbert_with_key: the same generated step
    expressions as one flat SELECT (lateral column aliases)."""
    steps, final = hilbert_level_exprs(order, x_expr, y_expr)
    aliases = ",\n       ".join(f"{e} AS {n}" for n, e in steps)
    return (f"SELECT {carry_cols},\n       {aliases},\n"
            f"       {final} AS hkey\nFROM {from_sql}")


# ---------------------------------------------------------------------------
# geohash interop (base32 lat/lon cell naming)
# ---------------------------------------------------------------------------
# Classic geohash: 5*precision bits over the (lon, lat) plane, longitude
# first, strictly alternating; 5-bit groups named with the standard
# base32 alphabet (no a/i/l/o).  Prefix truncation = coarser cell, so
# geohash strings join hierarchically exactly like quadkeys — the third
# interop naming next to quadkey_col (web tiles) and encode_col (engine
# cells).  Reference shape: dc_utilities' epsg/latlon cell naming idiom.

GEOHASH_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_quant(precision: int):
    """(lon_bits, lat_bits) for a precision-char geohash."""
    if not 1 <= precision <= 12:
        raise ValueError("precision must be in [1, 12]")
    bits = 5 * precision
    return bits - bits // 2, bits // 2  # lon takes the extra odd bit


def geohash_np(lat, lon, precision: int = 8) -> np.ndarray:
    """numpy reference: vectorized geohash of (lat, lon) arrays."""
    lon_bits, lat_bits = _geohash_quant(precision)
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    ix = np.clip(np.floor((lon + 180.0) / 360.0 * (1 << lon_bits)),
                 0, (1 << lon_bits) - 1).astype(np.int64)
    iy = np.clip(np.floor((lat + 90.0) / 180.0 * (1 << lat_bits)),
                 0, (1 << lat_bits) - 1).astype(np.int64)
    n = 5 * precision
    inter = np.zeros_like(ix)
    # MSB-first alternation: even stream positions take the next
    # longitude bit (from its MSB down), odd take the next latitude bit.
    for j in range(n):
        src, k = (ix, lon_bits - 1 - j // 2) if j % 2 == 0 \
            else (iy, lat_bits - 1 - j // 2)
        inter |= ((src >> k) & 1) << (n - 1 - j)
    out = np.empty(ix.shape, dtype=object)
    flat_i, flat_o = inter.ravel(), out.ravel()
    for j in range(flat_i.size):
        v = int(flat_i[j])
        flat_o[j] = "".join(
            GEOHASH_BASE32[(v >> (5 * (precision - 1 - c))) & 31]
            for c in range(precision))
    _ = n
    return out


def geohash_decode_bounds_np(gh: str):
    """Decode a geohash string to its (lat_min, lat_max, lon_min,
    lon_max) cell bounds — the round-trip check for geohash_np."""
    v = 0
    for ch in gh:
        v = (v << 5) | GEOHASH_BASE32.index(ch)
    lon_bits, lat_bits = _geohash_quant(len(gh))
    n = 5 * len(gh)
    ix = iy = 0
    for j in range(n):
        bit = (v >> (n - 1 - j)) & 1
        if j % 2 == 0:
            ix |= bit << (lon_bits - 1 - j // 2)
        else:
            iy |= bit << (lat_bits - 1 - j // 2)
    lon_w = 360.0 / (1 << lon_bits)
    lat_w = 180.0 / (1 << lat_bits)
    return (-90.0 + iy * lat_w, -90.0 + (iy + 1) * lat_w,
            -180.0 + ix * lon_w, -180.0 + (ix + 1) * lon_w)


def geohash_col(lat: Column, lon: Column, precision: int = 8) -> Column:
    """Column twin of geohash_np — pure bit/CASE codegen plus one
    concat of element_at lookups into the literal base32 alphabet; no
    UDF.  Same quantization style as zorder_col/_quant_col."""
    lon_bits, lat_bits = _geohash_quant(precision)
    ix = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(1 << lon_bits)) \
          .cast("long")
    ix = F.least(F.greatest(ix, F.lit(0)), F.lit((1 << lon_bits) - 1))
    iy = F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(1 << lat_bits)) \
          .cast("long")
    iy = F.least(F.greatest(iy, F.lit(0)), F.lit((1 << lat_bits) - 1))
    n = 5 * precision
    inter = F.lit(0).cast("long")
    for j in range(n):
        src, k = (ix, lon_bits - 1 - j // 2) if j % 2 == 0 \
            else (iy, lat_bits - 1 - j // 2)
        inter = inter.bitwiseOR(
            F.shiftleft(F.shiftright(src, k).bitwiseAND(F.lit(1)),
                        n - 1 - j))
    alpha = F.array(*[F.lit(c) for c in GEOHASH_BASE32])
    chars = [F.element_at(
                alpha,
                (F.shiftright(inter, 5 * (precision - 1 - c))
                  .bitwiseAND(F.lit(31)) + F.lit(1)).cast("int"))
             for c in range(precision)]
    return F.concat(*chars).alias("geohash")


def geohash_sql(lat_expr: str, lon_expr: str, precision: int = 8) -> str:
    """DuckDB oracle twin — identical quantization, interleave and
    base32 lookup arithmetic as geohash_col."""
    lon_bits, lat_bits = _geohash_quant(precision)
    ix = (f"least(greatest(CAST(floor((({lon_expr}) + 180.0)/360.0 * "
          f"{1 << lon_bits}) AS BIGINT), 0), {(1 << lon_bits) - 1})")
    iy = (f"least(greatest(CAST(floor((({lat_expr}) + 90.0)/180.0 * "
          f"{1 << lat_bits}) AS BIGINT), 0), {(1 << lat_bits) - 1})")
    n = 5 * precision
    parts = []
    for j in range(n):
        src, k = (ix, lon_bits - 1 - j // 2) if j % 2 == 0 \
            else (iy, lat_bits - 1 - j // 2)
        parts.append(f"((({src} >> {k}) & 1) << {n - 1 - j})")
    inter = "(" + " | ".join(parts) + ")"
    chars = [(f"substr('{GEOHASH_BASE32}', "
              f"CAST((({inter} >> {5 * (precision - 1 - c)}) & 31) "
              f"AS INTEGER) + 1, 1)") for c in range(precision)]
    return "(" + " || ".join(chars) + ")"


def _quant_py(lat: float, lon: float, bits: int) -> "tuple[int, int]":
    """Python twin of _quant_col — the IDENTICAL float arithmetic
    (wrap, scale, floor, clamp), so planner-side bounds agree with the
    engine-side quantization bit for bit."""
    import math

    n = 1 << bits
    shifted = lon + 180.0
    lon_w = shifted - 360.0 * math.floor(shifted / 360.0) - 180.0
    ix = int(math.floor((lon_w + 180.0) / 360.0 * n))
    ix = min(max(ix, 0), n - 1)
    iy = int(math.floor((90.0 - lat) / 180.0 * n))
    iy = min(max(iy, 0), n - 1)
    return ix, iy


def zorder_bbox_ranges(ix0: int, ix1: int, iy0: int, iy1: int,
                       bits: int = 16,
                       max_ranges: int = 64) -> "list[tuple[int, int]]":
    """Minimal z-key ranges covering the integer cell bbox
    [ix0, ix1] x [iy0, iy1] — the INDEX-PRUNING PLANNER for z-ordered
    storage (Iceberg rewrite-with-zorder + bbox scans): quadtree
    descent emits one contiguous [zmin, zmax] per quad fully inside the
    bbox (quads ARE contiguous z intervals — the Morton property),
    recurses on partial quads, then coalesces z-adjacent ranges and, if
    still over max_ranges, merges the smallest gaps — widening ranges
    only ever ADDS false positives, never drops a hit, so an exact
    residual filter downstream keeps the scan correct.

    Driver-side, O(perimeter) work — the planner is tiny; the WIN is
    that the emitted ranges push down to parquet/manifest min-max
    pruning as plain BETWEEN predicates."""
    out: list[tuple[int, int]] = []

    def z(ix, iy):
        return int(zorder_np(ix, iy, bits))

    def rec(qx, qy, level):
        size = 1 << level
        x_lo, x_hi = qx, qx + size - 1
        y_lo, y_hi = qy, qy + size - 1
        if x_hi < ix0 or x_lo > ix1 or y_hi < iy0 or y_lo > iy1:
            return
        if x_lo >= ix0 and x_hi <= ix1 and y_lo >= iy0 and y_hi <= iy1:
            zmin = z(qx, qy)
            out.append((zmin, zmin + size * size - 1))
            return
        half = size // 2
        for dx in (0, half):
            for dy in (0, half):
                rec(qx + dx, qy + dy, level - 1)

    rec(0, 0, bits)
    out.sort()
    merged: list[list[int]] = []
    for lo, hi in out:
        if merged and lo == merged[-1][1] + 1:
            merged[-1][1] = hi
        else:
            merged.append([lo, hi])
    while len(merged) > max_ranges:
        # merge the pair with the smallest z gap (fewest false positives)
        gaps = [(merged[i + 1][0] - merged[i][1], i)
                for i in range(len(merged) - 1)]
        _, i = min(gaps)
        merged[i][1] = merged[i + 1][1]
        del merged[i + 1]
    return [(lo, hi) for lo, hi in merged]


def zorder_range_scan(df, lat_col: str, lon_col: str,
                      lat_min: float, lat_max: float,
                      lon_min: float, lon_max: float,
                      bits: int = 16, max_ranges: int = 64):
    """Bbox scan over z-ordered data, planner + residual: quantize the
    bbox with the SAME arithmetic as the key (so bounds agree bit for
    bit), filter on the planned z ranges (BETWEEN predicates — these
    push down to row-group/manifest min-max pruning when the table is
    laid out by tiling.zorder_layout), then apply the EXACT quantized
    ix/iy residual so coalesced ranges cannot leak false positives.

    Semantics: rows whose QUANTIZED cell falls in the quantized bbox —
    the cell-grid contract of the whole cells module.  Returns the
    input rows + (zkey, ix, iy)."""
    from pyspark.sql import functions as F

    ix0, iy_a = _quant_py(lat_max, lon_min, bits)   # lat max -> iy min
    ix1, iy_b = _quant_py(lat_min, lon_max, bits)
    iy0, iy1 = min(iy_a, iy_b), max(iy_a, iy_b)
    # Antimeridian crossing (ADVICE r5): a wrapped bbox quantizes to
    # ix0 > ix1; the scan splits into the conventional two sub-scans
    # [ix0, n-1] and [0, ix1] (iy cannot wrap — latitude is bounded)
    # instead of silently planning zero ranges and returning empty.
    n_cells = 1 << bits
    if ix0 > ix1:
        ix_spans = [(ix0, n_cells - 1), (0, ix1)]
    else:
        ix_spans = [(ix0, ix1)]
    ranges = []
    for sx0, sx1 in ix_spans:
        ranges.extend(zorder_bbox_ranges(sx0, sx1, iy0, iy1, bits,
                                         max_ranges))
    lat, lon = F.col(lat_col), F.col(lon_col)
    ix, iy = _quant_col(lat, lon, bits)
    z = zorder_col(lat, lon, bits)
    t = df.withColumn("zkey", z).withColumn("ix", ix).withColumn("iy", iy)
    cond = None
    for lo, hi in ranges:
        c = F.col("zkey").between(lo, hi)
        cond = c if cond is None else (cond | c)
    if cond is None:
        return t.filter(F.lit(False))
    ix_res = None
    for sx0, sx1 in ix_spans:
        c = F.col("ix").between(sx0, sx1)
        ix_res = c if ix_res is None else (ix_res | c)
    return t.filter(cond).filter(ix_res
                                 & F.col("iy").between(iy0, iy1))


# ---------------------------------------------------------------------------
# H3-style hexagonal cells (pointy-top axial coordinates)
# ---------------------------------------------------------------------------
# Engine-portability argument: the encoder uses ONLY IEEE-exactly-rounded
# operations (+ - * / sqrt floor abs) — sqrt is correctly rounded by IEEE
# 754, unlike sin/cos/log, so Spark (JVM) and DuckDB produce bit-identical
# doubles and the cell ids hash-oracle.  This is why the module offers a
# HEX grid without transcendental great-circle math.

_SQRT3 = 3.0 ** 0.5  # hex basis constant, exactly rounded


def hex_encode_cols(x, y, size: float):
    """Axial (q, r) hex cell of planar point (x, y) for pointy-top
    hexes of the given size, via exact cube rounding (floor(t + 0.5)
    explicitly — engines disagree on round()'s half rule, never on
    floor).  Returns (q, r) integer Columns."""
    qf = (x * F.lit(_SQRT3 / 3.0) - y * F.lit(1.0 / 3.0)) / F.lit(size)
    rf = (y * F.lit(2.0 / 3.0)) / F.lit(size)
    sf = -qf - rf
    rq = F.floor(qf + F.lit(0.5))
    rr = F.floor(rf + F.lit(0.5))
    rs = F.floor(sf + F.lit(0.5))
    dq = F.abs(rq - qf)
    dr = F.abs(rr - rf)
    ds = F.abs(rs - sf)
    q_out = F.when((dq > dr) & (dq > ds), -rr - rs).otherwise(rq)
    r_out = F.when(~((dq > dr) & (dq > ds)) & (dr > ds),
                   -rq - rs).otherwise(rr)
    return q_out.cast("long"), r_out.cast("long")


def hex_encode_sql(x_expr: str, y_expr: str, size: float) -> "tuple[str, str]":
    """DuckDB twin of hex_encode_cols — identical IEEE arithmetic."""
    qf = f"((({x_expr}) * {_SQRT3 / 3.0!r} - ({y_expr}) * {1.0 / 3.0!r}) / {size!r})"
    rf = f"((({y_expr}) * {2.0 / 3.0!r}) / {size!r})"
    sf = f"(-{qf} - {rf})"
    rq = f"floor({qf} + 0.5)"
    rr = f"floor({rf} + 0.5)"
    rs = f"floor({sf} + 0.5)"
    dq = f"abs({rq} - {qf})"
    dr = f"abs({rr} - {rf})"
    ds = f"abs({rs} - {sf})"
    fix_q = f"({dq} > {dr} AND {dq} > {ds})"
    q_out = (f"CAST(CASE WHEN {fix_q} THEN -{rr} - {rs} "
             f"ELSE {rq} END AS BIGINT)")
    r_out = (f"CAST(CASE WHEN NOT {fix_q} AND {dr} > {ds} "
             f"THEN -{rq} - {rs} ELSE {rr} END AS BIGINT)")
    return q_out, r_out


# axial ring-1 neighbor offsets (pointy-top)
HEX_RING1 = ((1, 0), (1, -1), (0, -1), (-1, 0), (-1, 1), (0, 1))


def hex_cell_stats(df, x_col: str, y_col: str, size: float):
    """Hex-grid aggregation + ring-1 adjacency — the north-rule cell
    shape (H3-style hexes tile without the square grid's anisotropic
    diagonal adjacency; every neighbor shares a full edge): per
    occupied cell, its point count and how many of its 6 ring-1
    neighbors are ALSO occupied — the support count kNN ring expansion
    and hotspot contagion both read.

    One encode projection + one groupBy + one 6-offset broadcast
    self-join on the cell key.  Returns (q, r, n_points,
    n_occupied_neighbors)."""
    qc, rc = hex_encode_cols(F.col(x_col), F.col(y_col), size)
    cells_df = (df.select(qc.alias("q"), rc.alias("r"))
                  .groupBy("q", "r").agg(F.count("*").alias("n_points")))
    nbr = cells_df.select(F.col("q").alias("nq"), F.col("r").alias("nr"))
    adj = (stencil.neighbors(cells_df, HEX_RING1, nbr, keys=("q", "r"),
                             to=("nq", "nr"), schema="dq long, dr long",
                             deltas=("dq", "dr"))
                   .groupBy("q", "r")
                   .agg(F.count("*").alias("n_occupied_neighbors")))
    return (cells_df.join(adj, ["q", "r"], "left")
                    .na.fill(0, ["n_occupied_neighbors"])
                    .select("q", "r",
                            F.col("n_points").cast("long")
                            .alias("n_points"),
                            F.col("n_occupied_neighbors").cast("long")
                            .alias("n_occupied_neighbors")))
