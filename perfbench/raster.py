"""The raster composite: the paper's raster-vector join over an image
table, as the ingest_composite workload runs it over a snapshot's head.

    scan -> rasterops.spatial_raster_features(BENCH_POLYS, res=9) (PIP join,
    geocell assignment, decode, QA mask, WOfS/NDVI features in one Arrow
    crossing) -> per-(poly, cell) composite aggregate -> collect

Its output is checked against an independent count: the scalar PIP
reference and cells.encode over the synthesizer's footprints.
"""

from __future__ import annotations

import time
from collections import Counter

import numpy as np

import pool
import stats
from bench import BENCH_POLYS

TILE_PX = pool.TILE_PX
RES = 9


def scan(images):
    from pyspark.sql import functions as F

    return images.select("image_id", "bytes", "w", "h", "fmt",
                         F.col("lon0").alias("x"), F.col("lat0").alias("y"))


def features(images):
    from data_cube_utilities_spark.operators import rasterops

    return rasterops.spatial_raster_features(scan(images), BENCH_POLYS, res=RES)


def composite(images):
    from pyspark.sql import functions as F

    return (features(images).groupBy("poly_id", "cell_id")
            .agg(F.count("*").alias("n_tiles"),
                 F.avg("clean_frac").alias("clean_frac"),
                 F.avg("water_frac").alias("water_frac"),
                 F.avg("mean_ndvi").alias("mean_ndvi"),
                 F.avg("mean_nir").alias("mean_nir")))


def run(tracer, images) -> tuple[list, float]:
    """The composite of `images`, collected, and the seconds spent on
    stage actions only a traced run makes: it first runs the scan and
    features stages as actions of their own, so the event log splits by
    stage."""
    t0 = time.perf_counter()
    if tracer.enabled:
        with tracer.span("rasterops.scan"):
            _noop(scan(images))
        with tracer.span("rasterops.features"):
            _noop(features(images))
    extra = time.perf_counter() - t0
    with tracer.span("rasterops.composite"):
        return composite(images).collect(), extra


def reference_counts(ids) -> dict:
    """Tiles per (poly, cell) of the pool images `ids`: scalar PIP and
    cells.encode over their footprints, independent of the Spark path."""
    from data_cube_utilities_spark import cells, synth
    from data_cube_utilities_spark.operators import spatial

    lat, lon = synth.footprints(np.asarray(ids), pool.POOL_SEED)
    cell = cells.encode(lat, lon, RES)
    want = Counter()
    for pid, ring in BENCH_POLYS.items():
        for i in range(len(lat)):
            if spatial.pip_scalar_reference(lon[i], lat[i], ring):
                want[(pid, int(cell[i]))] += 1
    return dict(want)


def check(rows, want: dict) -> str | None:
    """None when the composite rows hold the reference counts."""
    got = {(r["poly_id"], r["cell_id"]): r["n_tiles"] for r in rows}
    if got == want:
        return None
    bad = sorted(set(got.items()) ^ set(want.items()))[:3]
    return f"raster counts differ from the reference: {bad}"


def layer_metrics(spans, totals) -> dict:
    """rasterops.* over the traced runs: stage walls and the composite's
    event-log totals, medians over composites."""
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)
    out = {}
    for stage in ("scan", "features", "composite"):
        ss = by.get(f"rasterops.{stage}", [])
        out[f"rasterops.{stage}_s"] = stats.median(
            [s["end"] - s["start"] for s in ss]) if ss else 0.0
    comp = [totals[s["id"]] for s in by.get("rasterops.composite", [])]
    for field in ("python_worker_s", "python_bytes_sent",
                  "python_bytes_returned", "tasks", "shuffle_write_bytes"):
        out[f"rasterops.{field}"] = (stats.median([t[field] for t in comp])
                                     if comp else 0)
    return out


def micro_timings(seed: int) -> dict:
    """In-process timings of the raster kernels on seeded tiles and
    points: decode_stack per tile, cells.encode per point and pip_np per
    point-polygon test (medians of repeated calls)."""
    from data_cube_utilities_spark import cells, codec, synth
    from data_cube_utilities_spark.operators import spatial

    tiles = synth.synth_batch(np.arange(256), seed, tile_px=TILE_PX)
    datas, fmts = list(tiles["bytes"]), list(tiles["fmt"])
    lat, lon = synth.footprints(np.arange(200_000), seed)
    rings = [(np.asarray([p[0] for p in r]), np.asarray([p[1] for p in r]))
             for r in BENCH_POLYS.values()]

    def med(fn, reps):
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        return stats.median(ts)

    dec = med(lambda: codec.decode_stack(datas, TILE_PX, TILE_PX, fmts), 21)
    enc = med(lambda: cells.encode(lat, lon, RES), 11)
    pip = med(lambda: [spatial.pip_np(lon, lat, xs, ys) for xs, ys in rings], 5)
    return {"codec.decode_stack_us_per_tile": dec / len(datas) * 1e6,
            "cells.encode_ns_per_pt": enc / len(lat) * 1e9,
            "spatial.pip_np_ns_per_pt": pip / (len(lat) * len(rings)) * 1e9}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()
