"""Minimal classic-NetCDF (CDF-1) writer/reader — the true binary NetCDF
sink (export_xarray_to_netcdf, data_cube_utilities/import_export.py:11-63),
replacing the parquet+manifest emulation as the byte-level contract.

The classic format is a simple big-endian header + flat arrays (the public
NetCDF classic format spec); no netCDF4/HDF5 library is needed for the
subset the engine emits:

  magic 'CDF\\x01' | numrecs=0 | dim_list | gatt_list | var_list | data

* fixed-size dimensions only (time is an ordinary dimension — the engine
  writes complete snapshots, not appending record streams);
* types NC_CHAR/SHORT/INT/FLOAT/DOUBLE; every name/value padded to 4 bytes;
* one data block per variable at its header-declared `begin` offset.

Like geotiff.py, the reader parses exactly what the writer emits (loud
failures otherwise) — it exists for round-trip verification, not as a
general NetCDF library. DataFrame op: ``save_netcdfs`` materializes one
.nc per tile from the executors (distributed sink, no driver collect).
"""

from __future__ import annotations

import os
import struct
from collections.abc import Iterator, Mapping, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from . import codec

_MAGIC = b"CDF\x01"
_NC_DIMENSION, _NC_VARIABLE, _NC_ATTRIBUTE = 0x0A, 0x0B, 0x0C

# nc_type -> (numpy big-endian dtype, size)
_TYPES = {
    2: (">S1", 1),   # NC_CHAR
    3: (">i2", 2),   # NC_SHORT
    4: (">i4", 4),   # NC_INT
    5: (">f4", 4),   # NC_FLOAT
    6: (">f8", 8),   # NC_DOUBLE
}
_NP2NC = {"i2": 3, "i4": 4, "f4": 5, "f8": 6}


def _nc_type_of(arr: np.ndarray) -> int:
    if arr.dtype.kind == "S" and arr.dtype.itemsize == 1:
        return 2
    key = arr.dtype.str.lstrip("<>=|")
    if key == "i8":        # int64 has no classic type; narrow if lossless
        if np.abs(arr).max(initial=0) < 2**31:
            return 4
        raise ValueError("int64 values exceed NC_INT range; cast to double")
    if key not in _NP2NC:
        raise ValueError(f"unsupported dtype for classic NetCDF: {arr.dtype}")
    return _NP2NC[key]


def _pad4(b: bytes) -> bytes:
    return b + b"\x00" * (-len(b) % 4)


def _name(s: str) -> bytes:
    raw = s.encode()
    return struct.pack(">i", len(raw)) + _pad4(raw)


def _attrs_block(attrs: Mapping[str, object]) -> bytes:
    if not attrs:
        return struct.pack(">ii", 0, 0)     # ABSENT
    out = [struct.pack(">ii", _NC_ATTRIBUTE, len(attrs))]
    for k, v in attrs.items():
        out.append(_name(k))
        if isinstance(v, str):
            raw = v.encode()
            out.append(struct.pack(">ii", 2, len(raw)) + _pad4(raw))
        else:
            arr = np.atleast_1d(np.asarray(v))
            arr = arr.astype(">f8") if arr.dtype.kind == "f" \
                else arr.astype(">i4")
            nc_t = 6 if arr.dtype.str.endswith("f8") else 4
            out.append(struct.pack(">ii", nc_t, arr.size)
                       + _pad4(arr.tobytes()))
    return b"".join(out)


def netcdf_bytes(dims: Mapping[str, int],
                 variables: Mapping[str, tuple[Sequence[str], np.ndarray]],
                 global_attrs: Mapping[str, object] | None = None,
                 var_attrs: Mapping[str, Mapping[str, object]] | None = None,
                 ) -> bytes:
    """dims: name -> length. variables: name -> (dim names, array whose
    shape matches those dims). Returns a complete classic CDF-1 file."""
    global_attrs = global_attrs or {}
    var_attrs = var_attrs or {}
    dim_ids = {d: i for i, d in enumerate(dims)}

    prepared = []      # (name, dimids, nc_type, data_bytes)
    for vname, (vdims, arr) in variables.items():
        arr = np.asarray(arr)
        shape = tuple(dims[d] for d in vdims)
        if arr.shape != shape:
            raise ValueError(f"{vname}: shape {arr.shape} != dims {shape}")
        nc_t = _nc_type_of(arr)
        data = np.ascontiguousarray(arr.astype(_TYPES[nc_t][0])).tobytes()
        prepared.append((vname, [dim_ids[d] for d in vdims], nc_t,
                         _pad4(data)))

    head = [_MAGIC, struct.pack(">i", 0)]                       # numrecs=0
    if dims:
        head.append(struct.pack(">ii", _NC_DIMENSION, len(dims)))
        for d, n in dims.items():
            head.append(_name(d) + struct.pack(">i", n))
    else:
        head.append(struct.pack(">ii", 0, 0))
    head.append(_attrs_block(global_attrs))

    # var headers need final offsets: lay them out in two passes
    def var_header(name, dimids, nc_t, vsize, begin):
        h = [_name(name), struct.pack(">i", len(dimids))]
        h += [struct.pack(">i", i) for i in dimids]
        h.append(_attrs_block(var_attrs.get(name, {})))
        h.append(struct.pack(">iii", nc_t, vsize, begin))
        return b"".join(h)

    head.append(struct.pack(">ii", _NC_VARIABLE, len(prepared))
                if prepared else struct.pack(">ii", 0, 0))
    fixed = b"".join(head)
    # pass 1 with begin=0 to measure the header
    probe = fixed + b"".join(var_header(n, d, t, len(b), 0)
                             for n, d, t, b in prepared)
    begin = len(probe)
    out = [fixed]
    for n, d, t, b in prepared:
        out.append(var_header(n, d, t, len(b), begin))
        begin += len(b)
    out += [b for _, _, _, b in prepared]
    return b"".join(out)


def read_netcdf(data: bytes):
    """Parse a file produced by netcdf_bytes. Returns
    (dims, {var: (dim_names, array)}, global_attrs, var_attrs)."""
    if data[:4] != _MAGIC:
        raise ValueError("not a CDF-1 classic NetCDF file")
    pos = [8]    # skip magic + numrecs

    def take(n):
        b = data[pos[0]:pos[0] + n]
        pos[0] += n
        return b

    def i4():
        return struct.unpack(">i", take(4))[0]

    def name():
        n = i4()
        raw = take(n + (-n % 4))[:n]
        return raw.decode()

    def attrs():
        tag, n = i4(), i4()
        if tag == 0:
            return {}
        assert tag == _NC_ATTRIBUTE, tag
        out = {}
        for _ in range(n):
            k = name()
            nc_t, cnt = i4(), i4()
            dt, sz = _TYPES[nc_t]
            raw = take(cnt * sz + (-(cnt * sz) % 4))[:cnt * sz]
            if nc_t == 2:
                out[k] = raw.decode()
            else:
                vals = np.frombuffer(raw, dtype=dt)
                out[k] = vals[0].item() if cnt == 1 else vals.tolist()
        return out

    tag, ndims = i4(), i4()
    dim_names, dims = [], {}
    if tag == _NC_DIMENSION:
        for _ in range(ndims):
            d = name()
            dims[d] = i4()
            dim_names.append(d)
    gatts = attrs()
    tag, nvars = i4(), i4()
    variables, vatts = {}, {}
    if tag == _NC_VARIABLE:
        for _ in range(nvars):
            v = name()
            nd = i4()
            vdims = [dim_names[i4()] for _ in range(nd)]
            vatts[v] = attrs()
            nc_t, vsize, begin = i4(), i4(), i4()
            dt, sz = _TYPES[nc_t]
            shape = tuple(dims[d] for d in vdims)
            count = int(np.prod(shape)) if shape else 1
            raw = data[begin:begin + count * sz]
            arr = np.frombuffer(raw, dtype=dt).reshape(shape)
            if nc_t == 2:
                variables[v] = (vdims, arr)
            else:
                variables[v] = (vdims, arr.astype(dt.replace(">", "=")))
    return dims, variables, gatts, vatts


# ---------------------------------------------------------------------------
# Spark sinks (mirror geotiff.with_geotiff / save_geotiffs)
# ---------------------------------------------------------------------------

def tile_netcdf_bytes(block: np.ndarray, lon0: float, lat0: float,
                      dx: float, dy: float,
                      band_names: Sequence[str] | None = None) -> bytes:
    """(h, w, bands) tile -> one CDF-1 file: lat/lon coordinate variables
    from the affine footprint + one integer variable per band (NC_SHORT
    when the values fit int16, else NC_INT — the reference
    export_xarray_to_netcdf preserves the dataset dtype; an unconditional
    int16 cast would wrap uint16 pixels >= 32768 negative), the layout
    export_xarray_to_netcdf produces for a single-time slice."""
    block = np.asarray(block)
    h, w = block.shape[:2]
    bands = block.shape[2] if block.ndim == 3 else 1
    blk = block.reshape(h, w, bands)
    names = list(band_names) if band_names else [
        f"band_{i}" for i in range(bands)]
    lats = (lat0 + dy * np.arange(h)).astype(np.float64)
    lons = (lon0 + dx * np.arange(w)).astype(np.float64)
    variables = {"latitude": (("latitude",), lats),
                 "longitude": (("longitude",), lons)}
    for i, nm in enumerate(names):
        band = blk[:, :, i]
        if band.dtype.kind in "ui":
            lo = int(band.min(initial=0))
            hi = int(band.max(initial=0))
            if -2**15 <= lo and hi < 2**15:
                band = band.astype(np.int16)
            elif -2**31 <= lo and hi < 2**31:
                band = band.astype(np.int32)
            else:
                raise ValueError(
                    f"{nm}: values [{lo}, {hi}] exceed NC_INT range")
        variables[nm] = (("latitude", "longitude"), band)
    return netcdf_bytes(
        {"latitude": h, "longitude": w}, variables,
        global_attrs={"Conventions": "CF-1.6", "crs": "EPSG:4326"},
        var_attrs={"latitude": {"units": "degrees_north"},
                   "longitude": {"units": "degrees_east"}})


def save_netcdfs(images: DataFrame, out_dir: str) -> int:
    """Write one .nc per tile from the executors (distributed sink, no
    driver collect; the per-timeslice layout of import_export.py:11-63);
    returns files written."""
    os.makedirs(out_dir, exist_ok=True)

    def sink(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = 0
        for b in batches:
            for r in b.itertuples():
                blk = codec.decode_block(r.bytes, r.w, r.h, r.fmt)
                path = os.path.join(out_dir, f"{r.image_id}.nc")
                with open(path, "wb") as f:
                    f.write(tile_netcdf_bytes(blk, r.lon0, r.lat0,
                                              r.dx, r.dy))
                n += 1
        yield pd.DataFrame({"n": [n]})

    counts = images.mapInPandas(sink, "n long").toPandas()
    return int(counts["n"].sum())
