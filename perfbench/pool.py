"""The image pool that raster_composite and snapshot_ingest draw their
inputs from.

Synthesizing a tile costs more than a millisecond of Python, so a run that
synthesized its own images would spend most of its time there. The pool is
synthesized once per checkout (`synth.synthesize_images` with a fixed seed,
cached under .work/inputs, never timed) as CHUNKS parquet directories of
CHUNK_ROWS consecutive image ids each. A run's seed picks and orders the
chunks it reads, so the same seed gives the same inputs and different seeds
give different image sets from the same skewed footprint distribution.
"""

from __future__ import annotations

import os
import random

import numpy as np

POOL_SEED = 7
CHUNKS = 24
CHUNK_ROWS = 500
TILE_PX = 16


def image_pool(ctx) -> str:
    """The pool's directory, synthesized on first use (not timed)."""
    from pyspark.sql import functions as F

    from data_cube_utilities_spark import synth

    path = os.path.join(ctx.cache, f"pool-{CHUNKS}x{CHUNK_ROWS}"
                                   f"-px{TILE_PX}-seed{POOL_SEED}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # spark.range splits the ids evenly, so task i writes chunk i alone
        img = synth.synthesize_images(ctx.spark, CHUNKS * CHUNK_ROWS,
                                      seed=POOL_SEED, tile_px=TILE_PX,
                                      partitions=CHUNKS)
        iid = F.substring("image_id", 5, 12).cast("long")
        (img.withColumn("chunk", F.floor(iid / CHUNK_ROWS))
         .write.mode("overwrite").partitionBy("chunk").parquet(path))
    return path


def pick(seed: int, n: int) -> list[int]:
    """n distinct chunks in a seeded order."""
    return random.Random(seed).sample(range(CHUNKS), n)


def chunk_dirs(path: str, chunks) -> list[str]:
    return [os.path.join(path, f"chunk={c}") for c in chunks]


def chunk_ids(chunks) -> np.ndarray:
    """The image ids the chunks hold, in chunk order."""
    return np.concatenate([np.arange(c * CHUNK_ROWS, (c + 1) * CHUNK_ROWS)
                           for c in chunks])
