"""Custom stateful streaming operator via applyInPandasWithState —
the survey's OTHER branch for incremental compositing (SURVEY.md 2.10
maps the reference's checkpointed batch recursion to Structured Streaming
`groupBy(cell).applyInPandasWithState` *or* snapshot micro-increments;
incremental.py implements the snapshot branch, this module the true
keyed-state branch).

Operator: per-cell phash-bucket saturation — a 63-bucket occupancy bitmap
of `phash % 63` (63, not 64: bucket 63 would need the sign bit of the
int64 state column) plus a running observation count, carried in GroupState
across micro-batches. Emits an updated (cell_id, n_buckets, n_obs) row
per cell per touched batch. The fold is order-insensitive (bitwise OR /
add), so the streamed result over ANY micro-batch arrival order equals
the batch twin exactly — which is what the parity test pins, with
maxFilesPerTrigger forcing several batches so state genuinely crosses
micro-batch boundaries.

Why a bitmap and not a set: state must stay O(1) per key at 10^12 rows;
the 63-bucket occupancy is the degenerate-but-exact small case of the
HLL-style sketch you would widen at scale (the fold stays a bitwise OR
either way, so the streaming machinery is identical).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..operators.textops import hash_bands

OUT_SCHEMA = "cell_id long, n_buckets int, n_obs long"
STATE_SCHEMA = "bitmap long, n_obs long"


def _saturate(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
    bitmap, n_obs = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        for h in pdf["phash"]:
            bitmap |= 1 << (int(h) % 63)
        n_obs += len(pdf)
    state.update((bitmap, n_obs))
    yield pd.DataFrame({"cell_id": [key[0]],
                        "n_buckets": [bin(bitmap).count("1")],
                        "n_obs": [n_obs]})


def streaming_cell_saturation(stream: DataFrame) -> DataFrame:
    """Keyed-state streaming aggregate over the image stream: for every
    cell, the occupancy of 63 phash buckets + total observations, state
    carried across micro-batches.  applyInPandasWithState is
    streaming-only in Spark 4 — for a one-shot batch equivalent use
    cell_saturation_batch (the parity twin below)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (stream.select("cell_id", "phash")
            .groupBy("cell_id")
            .applyInPandasWithState(
                _saturate, OUT_SCHEMA, STATE_SCHEMA, "update",
                GroupStateTimeout.NoTimeout))


def cell_saturation_batch(images: DataFrame) -> DataFrame:
    """Batch twin for parity: the same bitmap fold as one aggregate."""
    from pyspark.sql import functions as F

    # pmod: Spark's % keeps the dividend sign; Python's int % 63 (the
    # streaming kernel) is always non-negative
    bit = F.expr("shiftleft(1L, CAST(pmod(phash, 63) AS INT))")
    return (images.groupBy("cell_id")
            .agg(F.bit_count(F.bit_or(bit)).cast("int").alias("n_buckets"),
                 F.count("*").alias("n_obs")))


# ---------------------------------------------------------------------------
# streaming exact-dedup gate (the Group-B dedup family, incrementally)
# ---------------------------------------------------------------------------

DEDUP_OUT_SCHEMA = "text_hash string, doc_id long, n_seen long"
DEDUP_STATE_SCHEMA = "keeper_id long, n_seen long"


def _dedup_gate(key, pdfs, state):
    """Per content-hash state: (keeper_id, n_seen). Keeper is the
    RUNNING MIN doc_id — a commutative fold, so the settled row is
    identical under any micro-batch arrival order and equals the batch
    twin (exact_dedup's min-id keeper) exactly; an early batch may emit
    a larger keeper that a later batch revises (update mode re-emits).
    State is O(1) per distinct document — the only state size that
    survives 10^12 rows."""
    keeper, n_seen = state.get if state.exists else (None, 0)
    batch_min, batch_n = None, 0
    for pdf in pdfs:
        if not len(pdf):
            continue
        m = int(pdf["doc_id"].min())
        batch_min = m if batch_min is None else min(batch_min, m)
        batch_n += len(pdf)
    if batch_n == 0:
        return
    keeper = batch_min if keeper is None else min(keeper, batch_min)
    n_seen += batch_n
    state.update((int(keeper), int(n_seen)))
    yield pd.DataFrame({"text_hash": [key[0]], "doc_id": [int(keeper)],
                        "n_seen": [int(n_seen)]})


def streaming_exact_dedup(stream: DataFrame,
                          text_col: str = "text") -> DataFrame:
    """Streaming exact-dedup gate: documents keyed by md5(text); each
    micro-batch emits the hash's keeper id and the running copy count,
    so a downstream sink keeps rows where doc_id == keeper and drops
    duplicates — exact_dedup as data arrives instead of as a batch job.
    The incremental fold (running min, running count) is
    order-insensitive across batches, so the settled per-hash row
    equals the batch twin exactly."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (stream.withColumn("text_hash", F.md5(F.col(text_col)))
            .groupBy("text_hash")
            .applyInPandasWithState(
                _dedup_gate, DEDUP_OUT_SCHEMA, DEDUP_STATE_SCHEMA,
                "update", GroupStateTimeout.NoTimeout))


# ---------------------------------------------------------------------------
# streaming phash near-dup gate (the image-dedup family, incrementally)
# ---------------------------------------------------------------------------

PHGATE_OUT_SCHEMA = ("band int, key long, member_id string, "
                     "keeper_id string, hamming int, is_dup int, "
                     "n_seen long")
PHGATE_STATE_SCHEMA = "keeper_id string, keeper_phash long, n_seen long"
_M64 = (1 << 64) - 1
PHGATE_MAX_HAMMING = 3
PHGATE_BANDS = 4


def _phash_gate(key, pdfs, state):
    """Per (band, key) state: (keeper_id, keeper_phash, n_seen).
    Keeper = running lexicographic-min member id (commutative, so the
    settled keeper equals the batch twin under any arrival order); each
    batch emits ITS member rows judged against the keeper as settled at
    that batch's end — hamming(member, keeper) and the is_dup flag at
    threshold PHGATE_MAX_HAMMING.  State is O(1) per occupied bucket:
    the only size that survives 10^12 images.  By pigeonhole, a pair
    within hamming <= PHGATE_BANDS - 1 shares >= 1 band key, so a
    genuinely near-duplicate arrival always lands in its earlier twin's
    bucket in at least one band (the batch detector's recall contract,
    hash_near_dup_pairs)."""
    keeper, kph, n_seen = state.get if state.exists else (None, 0, 0)
    members = []
    for pdf in pdfs:
        members.extend((str(m), int(p))
                       for m, p in zip(pdf["member_id"], pdf["phash"]))
    if not members:
        return
    bm_id, bm_ph = min(members)
    if keeper is None or bm_id < keeper:
        keeper, kph = bm_id, bm_ph
    n_seen += len(members)
    state.update((keeper, int(kph), int(n_seen)))
    band, bkey = int(key[0]), int(key[1])
    hams = [bin((p ^ kph) & _M64).count("1") for _, p in members]
    yield pd.DataFrame({
        "band": [band] * len(members),
        "key": [bkey] * len(members),
        "member_id": [m for m, _ in members],
        "keeper_id": [keeper] * len(members),
        "hamming": hams,
        "is_dup": [int(m != keeper and h <= PHGATE_MAX_HAMMING)
                   for (m, _), h in zip(members, hams)],
        "n_seen": [n_seen] * len(members),
    })


def _banded(df: DataFrame, id_col: str, phash_col: str) -> DataFrame:
    """(member_id, phash, band, key): the PHGATE_BANDS x 16-bit band keys
    of the 64-bit hash, JVM-side (textops.hash_bands, the banding of
    hash_near_dup_pairs)."""
    from pyspark.sql import functions as F

    h = F.col(phash_col).cast("long")
    return df.select(F.col(id_col).cast("string").alias("member_id"),
                     h.alias("phash"),
                     F.posexplode(F.array(*hash_bands(h, PHGATE_BANDS)))
                      .alias("band", "key"))


def streaming_phash_near_dup(stream: DataFrame,
                             id_col: str = "image_id",
                             phash_col: str = "phash") -> DataFrame:
    """Streaming NEAR-dup gate over a 64-bit perceptual-hash column (the
    input_hint image table's phash:int64): arrivals are banded into
    PHGATE_BANDS x 16-bit keys and keyed state per occupied (band, key)
    bucket tracks (keeper, keeper_phash, n_seen); each arrival is judged
    against its bucket keeper by exact popcount-XOR hamming.  The
    incremental form of hash_near_dup_pairs: admit-or-drop against the
    bucket representative as images arrive, instead of a batch pair
    join.  Downstream, a member with is_dup=1 in ANY band is a
    near-duplicate of an already-admitted image."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (_banded(stream, id_col, phash_col)
            .groupBy("band", "key")
            .applyInPandasWithState(
                _phash_gate, PHGATE_OUT_SCHEMA, PHGATE_STATE_SCHEMA,
                "update", GroupStateTimeout.NoTimeout))


def phash_gate_batch(df: DataFrame, id_col: str = "image_id",
                     phash_col: str = "phash") -> DataFrame:
    """Batch twin for parity: per (band, key) the keeper is the
    lexicographic-min member id; every member row carries popcount-XOR
    hamming to the keeper's phash and the same is_dup flag.  Equals the
    streaming gate exactly when the stream arrives in one micro-batch;
    across many batches the settled keeper/n_seen still match (the
    fold is commutative) while early members keep their
    judged-at-arrival flags — the gate semantics."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    e = _banded(df, id_col, phash_col)
    w = Window.partitionBy("band", "key")
    keep = (e.withColumn("rn", F.row_number().over(
                w.orderBy("member_id")))
             .withColumn("n_seen", F.count("*").over(w)))
    k = (keep.filter("rn = 1")
             .select("band", "key", F.col("member_id").alias("keeper_id"),
                     F.col("phash").alias("keeper_phash")))
    ham = F.bit_count(F.col("phash").bitwiseXOR(F.col("keeper_phash"))) \
           .cast("int")
    return (keep.join(k, ["band", "key"])
                .select("band", "key", "member_id", "keeper_id",
                        ham.alias("hamming"),
                        ((F.col("member_id") != F.col("keeper_id"))
                         & (ham <= PHGATE_MAX_HAMMING))
                        .cast("int").alias("is_dup"),
                        F.col("n_seen").cast("long").alias("n_seen")))


# ---------------------------------------------------------------------------
# streaming KMV distinct-count sketch (bounded state, order-insensitive)
# ---------------------------------------------------------------------------

KMV_OUT_SCHEMA = "grp string, n_kept long, kth long, est_distinct long"
KMV_STATE_SCHEMA = "hashes array<bigint>"
KMV_DOMAIN = 16 ** 12  # sketches.DOMAIN — 48-bit md5-prefix hash space


def _kmv_fold_factory(k: int):
    def fold(key, pdfs: "Iterator[pd.DataFrame]", state):
        cur = set(state.get[0]) if state.exists else set()
        for pdf in pdfs:
            cur.update(int(h) for h in pdf["hv"] if h is not None)
        kept = sorted(cur)[:k]
        state.update((kept,))
        n = len(kept)
        kth = kept[-1] if kept else 0
        est = n if n < k else ((k - 1) * KMV_DOMAIN) // kth
        yield pd.DataFrame({"grp": [key[0]], "n_kept": [n],
                            "kth": [kth], "est_distinct": [est]})
    return fold


def streaming_kmv(stream: DataFrame, k: int = 16) -> DataFrame:
    """Streaming per-group distinct-count KMV sketch: the batch
    kmv_sketch carried as GroupState — the k smallest 48-bit hashes per
    key, a pure SET-MIN fold, so it is order-insensitive (any
    micro-batch arrival order settles to the batch sketch exactly —
    the parity contract every stateful operator here pins) and state
    is O(k) per key forever.  Input must carry (grp string, hv long)
    — hash upstream with sketches.kmv_hash_col, JVM-side.

    The streaming form answers "distinct captions/images per cell so
    far" continuously at 10^12 scale without a distinct shuffle per
    trigger."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (stream.select("grp", "hv")
            .groupBy("grp")
            .applyInPandasWithState(
                _kmv_fold_factory(k), KMV_OUT_SCHEMA, KMV_STATE_SCHEMA,
                "update", GroupStateTimeout.NoTimeout))


def kmv_batch_twin(df: DataFrame, k: int = 16) -> DataFrame:
    """One-shot batch equivalent of streaming_kmv's settled state (for
    parity tests): same columns from sketches.kmv internals."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    h = df.select("grp", "hv").filter(F.col("hv").isNotNull()).distinct()
    w = Window.partitionBy("grp").orderBy("hv")
    kept = (h.withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") <= k))
    return (kept.groupBy("grp")
                .agg(F.count("*").alias("n_kept"),
                     F.max("hv").alias("kth"))
                .withColumn(
                    "est_distinct",
                    F.when(F.col("n_kept") < k, F.col("n_kept"))
                     .otherwise(F.expr(
                         f"({k - 1}L * {KMV_DOMAIN}L) div kth")))
                .select("grp", F.col("n_kept").cast("long").alias("n_kept"),
                        "kth", F.col("est_distinct").cast("long")
                        .alias("est_distinct")))
