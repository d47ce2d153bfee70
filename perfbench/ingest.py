"""ingest_composite: rounds of append -> incremental refresh -> pruned head
scan -> raster composite of the pruned head, on a fresh SnapshotTable.

This is the data cube's update cycle: new imagery lands in the versioned
image table, the per-cell aggregate follows it, and the composite of the
recent imagery is recomputed. An episode starts from empty source and
aggregate tables and runs ROUNDS rounds. Round k:
  1. appends seeded image batch k (BATCH_CHUNKS chunks of the image pool,
     see pool.py), partitioned by a cell bucket, with manifest metrics on
     `acquired_day` (batch k covers its own DAYS-day window, so manifests
     can prune whole commits by time);
  2. refreshes the per-cell count/byte-sum aggregate incrementally
     (refresh_incremental_agg);
  3. reads the head with where={acquired_day: the newest window}, which
     the manifests prune to the newest commit, and counts and sums it;
  4. runs the raster composite (raster.py) over that pruned head and
     collects it.
One operation is one round. Episodes repeat until the time is up, so every
run sees the same table sizes whatever its speed. Every round's scan count
and composite, and every episode's aggregate, are checked outside the
timings.
"""

from __future__ import annotations

import os
import shutil
import time

import pool
import raster
import stats
from harness import Context, Loop, modes

ROUNDS = 4
BATCH_CHUNKS = 3        # of the pool's chunks per batch, picked by the seed
BATCH_ROWS = BATCH_CHUNKS * pool.CHUNK_ROWS
DAYS = 30
BUCKETS = 8
MIN_EPISODES = 1
FIELDS = ("walls", "cpus", "round_wall", "round_cpu", "commit", "refresh",
          "scan", "composite", "images", "dirs", "files", "bytes_ratio")


def _where(k: int) -> dict:
    """Round k's head read: the newest window."""
    return {"acquired_day": (k * DAYS, (k + 1) * DAYS - 1)}


def du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def parquet_files(dirs) -> int:
    return sum(1 for p in dirs for _, _, fs in os.walk(p)
               for f in fs if f.endswith(".parquet"))


class IngestComposite:
    name = "ingest_composite"

    def __init__(self):
        self.pool = None
        self.warm_table = None
        self.chunks: list[list[int]] = []
        self.episode = 0
        self.rounds = 0

    def prepare(self, ctx: Context) -> None:
        from data_cube_utilities_spark.sources.snapshots import SnapshotTable

        picked = pool.pick(ctx.seed, ROUNDS * BATCH_CHUNKS)
        self.chunks = [picked[k * BATCH_CHUNKS:(k + 1) * BATCH_CHUNKS]
                       for k in range(ROUNDS)]
        self.pool = pool.image_pool(ctx)
        self.input_bytes = sum(du(d) for cs in self.chunks
                               for d in pool.chunk_dirs(self.pool, cs))
        # round k's pruned scan must see batch k, and its composite hold
        # batch k's reference counts
        ids = [pool.chunk_ids(cs) for cs in self.chunks]
        self.want = [(len(i), raster.reference_counts(i)) for i in ids]
        # the warm-up table: batch 0 committed once (not timed), which also
        # compiles the commit path in this JVM
        self.warm_table = SnapshotTable(os.path.join(ctx.scratch, "warm"))
        self.warm_table.commit(self._batch(ctx.spark, 0),
                               partition_cols=["cell_bucket"],
                               operation="append", metrics_cols=["acquired_day"])

    def _batch(self, spark, k: int):
        """Image batch k as the ingest receives it: its pool chunks with
        the acquisition day, a cell bucket and the payload size."""
        from pyspark.sql import functions as F

        iid = F.substring("image_id", 5, 12).cast("long")
        day = F.lit(k * DAYS) + F.pmod(iid * 7919, F.lit(DAYS))
        return (spark.read.parquet(*pool.chunk_dirs(self.pool, self.chunks[k]))
                .select("image_id", "bytes", "w", "h", "fmt", "phash", "lat0",
                        "lon0", "cell_id",
                        day.alias("acquired_day"),
                        F.timestamp_seconds(F.lit(1577836800) + day * 86400)
                        .alias("acquired_at"),
                        F.pmod("cell_id", F.lit(BUCKETS)).alias("cell_bucket"),
                        F.length("bytes").cast("long").alias("nbytes")))

    def warm(self, ctx: Context) -> None:
        """A pruned read of the warm-up table."""
        self.warm_table.read(ctx.spark, where=_where(0)).count()

    def warm_traced(self, ctx: Context) -> None:
        """Also a composite, so neither side of the A/B starts the Python
        workers."""
        self.warm(ctx)
        raster.composite(self.warm_table.read(ctx.spark, where=_where(0))).collect()

    def check(self, ctx: Context, lp: Loop) -> None:
        """The composite of the warm-up table's head must hold round 0's
        reference counts. This also starts the Python workers before the
        loop; every round's scan and composite and every episode's
        aggregate are checked in `loop`, outside the timings."""
        rows = raster.composite(
            self.warm_table.read(ctx.spark, where=_where(0))).collect()
        err = raster.check(rows, self.want[0][1])
        if err:
            lp.fail(f"warm-up composite: {err}")
        else:
            lp.ok()

    def _round(self, ctx: Context, src, agg, k: int) -> dict:
        from pyspark.sql import functions as F

        from data_cube_utilities_spark.sources.snapshots import (
            refresh_incremental_agg)

        spark, tr = ctx.spark, ctx.tracer
        t = {}
        t0 = time.perf_counter()
        with tr.span("snapshots.commit"):
            src.commit(self._batch(spark, k), partition_cols=["cell_bucket"],
                       operation="append", metrics_cols=["acquired_day"],
                       lineage={"step": f"batch{k}"})
        t1 = time.perf_counter()
        with tr.span("snapshots.refresh"):
            refresh_incremental_agg(src, agg, spark, keys=["cell_id"],
                                    sum_cols=["nbytes"])
        t2 = time.perf_counter()
        where = _where(k)
        with tr.span("snapshots.scan"):
            head = src.read(spark, where=where)
            row = (head.agg(F.count("*").alias("n"), F.sum("nbytes").alias("b"))
                   .collect()[0])
        t3 = time.perf_counter()
        rows, extra = raster.run(tr, head)
        t4 = time.perf_counter()
        dirs = src.pruned_dirs(src.current_version(), where)
        t.update(commit=t1 - t0, refresh=t2 - t1, scan=t3 - t2,
                 composite=t4 - t3 - extra, extra=extra, scan_n=row["n"],
                 rows=rows, dirs=len(dirs), files=parquet_files(dirs))
        return t

    def _episode(self, ctx: Context, lp: Loop, s: dict, sfx: str) -> None:
        """ROUNDS rounds on fresh tables; every round's scan count and
        composite and the final aggregate are checked outside the
        timings."""
        from data_cube_utilities_spark.sources.snapshots import SnapshotTable

        base = os.path.join(ctx.scratch, f"ep{self.episode}")
        self.episode += 1
        src = SnapshotTable(os.path.join(base, "src"))
        agg = SnapshotTable(os.path.join(base, "agg"))
        ep_wall = ep_cpu = 0.0
        ep_rounds = 0
        try:
            for k in range(ROUNDS):
                ctx.tracer.op = self.rounds
                self.rounds += 1
                r = lp.run(self._round, ctx, src, agg, k)
                if r is None:
                    return
                t, wall, cpu = r
                wall -= t["extra"]      # the same work as an untraced round
                want_n, want_counts = self.want[k]
                if t["scan_n"] != want_n:
                    lp.reject(f"round {k}: pruned head scan saw {t['scan_n']}"
                              f" rows, {want_n} were appended in range")
                    continue
                err = raster.check(t["rows"], want_counts)
                if err:
                    lp.reject(f"round {k}: {err}")
                    continue
                s["walls" + sfx].append(wall)
                s["cpus" + sfx].append(cpu)
                for f in ("commit", "refresh", "scan", "composite", "dirs",
                          "files"):
                    s[f + sfx].append(t[f])
                s["images" + sfx].append(want_n)
                ep_wall += wall
                ep_cpu += cpu
                ep_rounds += 1
            total = agg.read(ctx.spark).groupBy().sum("n_rows").collect()[0][0]
            if total != ROUNDS * BATCH_ROWS:
                lp.fail(f"aggregate holds {total} rows,"
                        f" {ROUNDS * BATCH_ROWS} were appended")
                return
            lp.ok()
            if ep_rounds == ROUNDS:
                s["round_wall" + sfx].append(ep_wall / ROUNDS)
                s["round_cpu" + sfx].append(ep_cpu / ROUNDS)
            s["bytes_ratio" + sfx].append((du(src.path) + du(agg.path))
                                          / self.input_bytes)
        finally:
            shutil.rmtree(base, ignore_errors=True)

    def loop(self, ctx: Context, lp: Loop, seconds: float) -> dict:
        """Whole episodes until `seconds` have gone: at least MIN_EPISODES,
        or in a traced run one A/B pair (traced first)."""
        s = {f + sfx: [] for sfx in ("", "_traced") for f in FIELDS}
        deadline = time.perf_counter() + seconds
        k = 0
        while k < MIN_EPISODES or time.perf_counter() < deadline:
            for on in modes(ctx, lp, k):
                self._episode(ctx, lp, s, "_traced" if on else "")
            k += 1
        return s

    def e2e(self, s: dict, traced: bool = False) -> dict:
        """Per round, as the mean over an episode's rounds (round k of every
        episode sees the same table sizes), median over episodes."""
        sfx = "_traced" if traced else ""
        return {"wall_s": stats.median(s["round_wall" + sfx]),
                "busy_cpu_s": stats.median(s["round_cpu" + sfx])}

    def report(self, s: dict) -> list[str]:
        rates = [n / t for n, t in zip(s["images"], s["composite"])]
        return [
            stats.fmt_summary("round_wall_s", "s", s["walls"]),
            stats.fmt_summary("episode_mean_round_wall_s", "s",
                              s["round_wall"]),
            f"ingest_rows_per_s: {BATCH_ROWS / stats.median(s['commit']):.6g}"
            f" 1/s (rows per batch={BATCH_ROWS} / commit_p50_s)",
            stats.fmt_summary("commit_p50_s", "s", s["commit"]),
            stats.fmt_summary("refresh_p50_s", "s", s["refresh"]),
            stats.fmt_summary("head_scan_p50_s", "s", s["scan"]),
            stats.fmt_summary("composite_p50_s", "s", s["composite"]),
            stats.fmt_summary("raster_images_per_s", "1/s", rates),
            stats.fmt_summary("stored_bytes_per_input_byte", "ratio",
                              s["bytes_ratio"]),
        ]

    def layer_metrics(self, samples: dict, spans, totals) -> dict:
        out = raster.layer_metrics(spans, totals)
        for phase in ("commit", "refresh", "scan"):
            ss = [x for x in spans if x["name"] == f"snapshots.{phase}"]
            out[f"snapshots.{phase}_s"] = (
                stats.median([x["end"] - x["start"] for x in ss]) if ss else 0.0)
            if phase != "scan":
                out[f"snapshots.{phase}_jobs"] = (
                    stats.median([totals[x["id"]]["jobs"] for x in ss])
                    if ss else 0)
        s = samples
        for name, f in (("scan_dirs", "dirs"), ("scan_files", "files"),
                        ("bytes_written_per_input_byte", "bytes_ratio")):
            vals = s[f + "_traced"]
            out[f"snapshots.{name}"] = stats.median(vals) if vals else 0
        return out
