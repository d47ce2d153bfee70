"""Structured Streaming: incremental compositing over an arriving image
stream, plus snapshot-committed micro-batch accumulation.

The reference's incremental idiom is checkpointed batch recursion
(`intermediate_product` accumulation, dc_mosaic.py:117-185; chunked
load->combine, dc_chunker.py — SURVEY.md 2.10). Two Spark-native
re-expressions:

1. ``streaming_cell_stats`` — a true Structured Streaming query:
   readStream(parquet dir) -> event-time window + watermark ->
   per-(cell, window) incremental aggregates (sum/count/min/max — the
   perform_timeseries_analysis family, which is algebraic and therefore
   exactly mergeable across micro-batches).
2. ``foreach_batch_snapshot`` — micro-batch sink committing each batch as
   an *append* snapshot (sources/snapshots.py), giving resumable,
   inspectable incremental state; late acquisitions are handled by
   recompute-of-affected-cells at read time (the reference's combine_first
   semantics), not by watermark eviction.

Holistic composites (median/geomedian) are NOT streamed incrementally —
they aren't mergeable; the engine recomputes them per affected cell from
the snapshot chain (documented limitation, same as the reference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import synth
from ..operators import sketches, stencil


def read_image_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: int = 4) -> DataFrame:
    """File-source stream of image rows (schema = synth.IMAGES_SCHEMA)."""
    return (spark.readStream
            .schema(synth.IMAGES_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path))


def streaming_cell_stats(stream: DataFrame,
                         window: str = "30 days",
                         watermark: str = "60 days") -> DataFrame:
    """Event-time windowed per-cell stats with late-data watermark —
    the streaming twin of perform_timeseries_analysis (algebraic only)."""
    return (stream
            .withWatermark("acquired_at", watermark)
            .groupBy("cell_id", F.window("acquired_at", window))
            .agg(F.count("*").alias("n_obs"),
                 F.min("acquired_at").alias("t_first"),
                 F.max("acquired_at").alias("t_last"),
                 F.avg(F.col("phash") % 1024).alias("phash_mix")))


def sliding_window_stats(df: DataFrame, time_col: str,
                         length: str = "1 hour", slide: str = "30 minutes",
                         keys=(), aggs=None) -> DataFrame:
    """Event-time SLIDING window aggregation via the real F.window slide
    semantics (each event lands in exactly length/slide epoch-aligned
    windows). Operator-level home for the q_sliding_window driver row;
    works identically over a batch DataFrame, the image table keyed by
    cell_id, or a readStream source (add a watermark upstream to bound
    streaming state). Output keeps the struct `window` column (start/end)
    so callers shape their own projection."""
    win = F.window(F.col(time_col).cast("timestamp"), length, slide)
    aggs = list(aggs) if aggs else [F.count("*").alias("n")]
    return df.groupBy(*keys, win.alias("window")).agg(*aggs)


def session_window_stats(df: DataFrame, time_col: str, gap: str = "2 hours",
                         keys=(), aggs=None) -> DataFrame:
    """Gap-based sessionization via the real F.session_window —
    Structured Streaming's stateful session grouping, usable in batch or
    streaming. A new session opens when the gap to the previous event is
    >= `gap` (the window is [start, last+gap)). Operator-level home for
    the q_session_window driver row; `keys` is the session identity
    (user_id for events, cell_id for the image table)."""
    sw = F.session_window(F.col(time_col).cast("timestamp"), gap)
    aggs = list(aggs) if aggs else [F.count("*").alias("n")]
    return df.groupBy(*keys, sw.alias("session_window")).agg(*aggs)


def run_stream_to_memory(stream_stats: DataFrame, name: str,
                         timeout_sec: float = 60.0):
    """Drive a streaming aggregate to completion against a finite directory
    (test harness): complete-mode memory sink, processAllAvailable."""
    q = (stream_stats.writeStream
         .format("memory").queryName(name)
         .outputMode("complete")
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return q


def foreach_batch_snapshot(stream: DataFrame, table_path: str,
                           checkpoint_dir: str):
    """Commit every micro-batch as an append snapshot with batch lineage.
    Restart-safe twice over: Spark's checkpoint replays uncommitted
    batches, and the snapshot lineage records exactly which batch ids
    landed (idempotence check at read time)."""
    from ..sources.snapshots import SnapshotTable

    table = SnapshotTable(table_path)

    def sink(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        # skip replayed batches that already committed (exactly-once-ish)
        done = {m.get("lineage", {}).get("batch_id") for m in table.history()}
        if batch_id in done:
            return
        table.commit(batch_df, operation="append",
                     lineage={"step": "stream_ingest", "batch_id": batch_id})

    return (stream.writeStream
            .foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def interval_join(left: DataFrame, right: DataFrame, key_col: str,
                  left_ts: str = "ts", right_ts: str = "ts",
                  max_lag: str = "10 minutes", max_lead: str = "0 seconds",
                  watermark: str = "1 hour") -> DataFrame:
    """Event-time STREAM-STREAM inner join (the 2.10 family's last
    branch): left rows pair with right rows sharing `key_col` whose event
    time lies in [l.ts - max_lag, l.ts + max_lead].

    Streaming semantics: both sides get a watermark and the join
    condition bounds right's event time relative to left's on BOTH ends,
    so Spark can evict buffered state once the watermark passes — the
    state held per side is O(rows inside the watermark horizon), never
    the whole stream.  Inner-join matches emit as soon as both rows have
    arrived (append mode); the settled output equals the batch join under
    any batch slicing (pytest-pinned).

    Works unchanged on batch DataFrames (watermarks only apply to
    streams), so the same call site serves the backfill and the live
    pipeline.  Columns come back under `l` / `r` aliases — select with
    qualified names."""
    l = (left.withWatermark(left_ts, watermark)
         if left.isStreaming else left).alias("l")
    r = (right.withWatermark(right_ts, watermark)
         if right.isStreaming else right).alias("r")
    lt, rt = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    cond = ((F.col(f"l.{key_col}") == F.col(f"r.{key_col}"))
            & (rt >= lt - F.expr(f"INTERVAL {max_lag}"))
            & (rt <= lt + F.expr(f"INTERVAL {max_lead}")))
    return l.join(r, cond, "inner")


def streaming_cm_sketch(stream: DataFrame, value_col: str,
                        depth: int = 4, width: int = 256) -> DataFrame:
    """Count-Min sketch maintained INCREMENTALLY over a stream — the
    frequency sketch is a plain keyed count, so it is streaming-native:
    the (row, bucket) aggregate updates per micro-batch with no custom
    state operator, and the complete-mode table at any instant equals
    the batch sketch of everything ingested so far (parity pinned in
    tests).  Heavy-hitter monitoring over an event firehose in
    depth*width integers of state, mergeable across independent streams
    by cell-wise addition (sketches.cm_merge).

    The plan IS sketches.cm_sketch (its broadcast row fan-out is a
    stream-static join), so the md5 buckets are the batch ones — a
    sketch snapshot taken today re-derives byte-identically from the
    raw archive tomorrow."""
    return sketches.cm_sketch(stream, value_col, depth, width)


def space_time_pair_stream(events: DataFrame, r_space: int,
                           max_lag: str = "6 hours",
                           id_col: str = "event_id",
                           x_col: str = "x", y_col: str = "y",
                           ts_col: str = "ts",
                           watermark: str = "12 hours") -> DataFrame:
    """Streaming Knox surveillance: the STREAM-STREAM SELF-join emitting
    every ordered pair of events close in space (squared Euclidean
    distance <= r_space^2) AND time (|dt| <= max_lag) as soon as both
    events have arrived — the live companion of
    spatial.knox_pair_counts (disease-cluster / change-event alarms).

    Spark-first shape: the probe side expands to its 3x3 max-radius
    spatial buckets with ONE explode over a literal 9-offset array (no
    stream-static join needed); the match side keeps its single bucket,
    so the join is a bucket EQUI-join plus the event-time range — never
    a cross join.  Both sides carry watermarks and the condition bounds
    the match side's event time on BOTH ends, so state is evicted at
    the horizon: O(events inside the watermark window), never the
    stream.  Output: (a_id, b_id, d2, dt_sec).  Works unchanged on a
    batch DataFrame (the parity twin in the tests)."""
    base = events.select(F.col(id_col).alias("id"),
                         F.col(x_col).cast("long").alias("x"),
                         F.col(y_col).cast("long").alias("y"),
                         F.col(ts_col).cast("timestamp").alias("ts"))
    probe = stencil.shifted(base, stencil.QUEEN_SELF,
                            keys=(F.floor(F.col("x") / r_space),
                                  F.floor(F.col("y") / r_space)),
                            to=("bx", "by"), keep=("id", "x", "y", "ts"),
                            inline=True)
    match = base.select(F.col("id").alias("mid"), F.col("x").alias("mx"),
                        F.col("y").alias("my"), F.col("ts").alias("mts"),
                        F.floor(F.col("x") / r_space).alias("bx"),
                        F.floor(F.col("y") / r_space).alias("by"))
    if events.isStreaming:
        probe = probe.withWatermark("ts", watermark)
        match = match.withWatermark("mts", watermark)
    lag = F.expr(f"INTERVAL {max_lag}")
    d2 = ((F.col("x") - F.col("mx")) * (F.col("x") - F.col("mx"))
          + (F.col("y") - F.col("my")) * (F.col("y") - F.col("my")))
    cond = ((probe.bx == match.bx) & (probe.by == match.by)
            & (F.col("mts") >= F.col("ts") - lag)
            & (F.col("mts") <= F.col("ts") + lag)
            & (F.col("id") != F.col("mid"))
            & (d2 <= r_space * r_space))
    return (probe.join(match, cond, "inner")
                 .select(F.col("id").alias("a_id"),
                         F.col("mid").alias("b_id"),
                         d2.cast("long").alias("d2"),
                         (F.unix_timestamp("mts") - F.unix_timestamp("ts"))
                         .cast("long").alias("dt_sec")))
