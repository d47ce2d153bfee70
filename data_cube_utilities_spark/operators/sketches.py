"""Mergeable distinct-count sketches (KMV / k-minimum-values).

Beyond-reference training-pipeline operator (task mandate): estimating
per-cell / per-source distinct cardinalities (unique images per S2 cell,
unique captions per shard, unique n-grams per language) at 100 TB without
a full count-distinct shuffle per question.

Why KMV and not HyperLogLog: Spark's approx_count_distinct is an HLL
whose result depends on internal implementation details, so no other
engine can reproduce it — it cannot be hash-oracled and a sketch stored
today cannot be re-derived byte-identically tomorrow.  KMV over a
DETERMINISTIC hash (md5, the repo-wide idiom of textops.hash_bucket_col)
is engine-reproducible: the k smallest 48-bit hash values of a column are
the same in Spark, DuckDB, or a future rerun, the estimator
(k-1) / kth_min_fraction is exact integer arithmetic, and two sketches
merge associatively (union the hash sets, re-take the k smallest) — the
property that lets partial sketches be built per partition / per day and
combined without touching raw data again (Beyer et al., "On synopses for
distinct-value estimation under multiset operations", SIGMOD'07).

Scale shape: the only wide operation is the DISTINCT on (group, hash),
which hash-aggregates map-side first — shuffle volume is bounded by the
per-partition distinct count, not the row count.  The subsequent k-min
rank moves each group's distinct hashes to one reducer; for extreme
cardinality per group, pre-filter `hv < threshold` using a prior (or
pessimistic) sketch so only candidate minima shuffle — KMV survives any
such pre-filter that keeps the true k minima, because the k smallest
hashes are unaffected by dropping values above them.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# 12 hex chars = 48-bit hash domain: large enough that birthday collisions
# are negligible below ~2^24 distinct values per group, small enough that
# (k-1) * DOMAIN stays inside int64 for any practical k (k <= 32767).
HEX_CHARS = 12
DOMAIN = 16 ** HEX_CHARS


def kmv_hash_col(value_col: str, hex_chars: int = HEX_CHARS):
    """Deterministic 48-bit hash of a value: first `hex_chars` hex chars
    of md5(CAST(value AS STRING)) as a long.  Bit-identical in any engine
    with md5 (DuckDB twin: CAST('0x' || substr(md5(v), 1, n) AS BIGINT));
    NULL values propagate to NULL and never enter a sketch."""
    return F.conv(F.substring(F.md5(F.col(value_col).cast("string")),
                              1, hex_chars), 16, 10).cast("long")


def kmv_sketch(df: DataFrame, group_cols: Sequence[str], value_col: str,
               k: int = 64) -> DataFrame:
    """Per-group KMV sketch: the k smallest distinct hash values.

    Returns one row per group: `hashes` (ascending array, len <= k),
    `n_kept`, `kth` (the largest kept hash), and `est_distinct` — the
    EXACT-arithmetic estimator: the distinct count itself when the group
    has fewer than k distinct values (the sketch is then lossless), else
    floor((k-1) * DOMAIN / kth), the classic (k-1)/kth-fraction estimate
    (relative error ~ 1/sqrt(k-2))."""
    if not group_cols:
        raise ValueError("group_cols must be non-empty (use a lit group)")
    h = (df.select(*group_cols, kmv_hash_col(value_col).alias("hv"))
           .filter(F.col("hv").isNotNull())
           .distinct())
    return _sketch_from_hashes(h, group_cols, k)


def _sketch_from_hashes(h: DataFrame, group_cols: Sequence[str],
                        k: int) -> DataFrame:
    w = Window.partitionBy(*group_cols).orderBy("hv")
    kept = h.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    return (kept.groupBy(*group_cols)
                .agg(F.count("*").alias("n_kept"),
                     F.max("hv").alias("kth"),
                     F.sort_array(F.collect_list("hv")).alias("hashes"))
                .withColumn(
                    "est_distinct",
                    F.when(F.col("n_kept") < k, F.col("n_kept"))
                     .otherwise(F.expr(f"({k - 1}L * {DOMAIN}L) div kth"))))


def kmv_merge(sketches: DataFrame, group_cols: Sequence[str],
              k: int = 64) -> DataFrame:
    """Merge partial sketches (multiple rows per group, e.g. one per day
    or per shard) into one sketch per group: union the kept hash sets and
    re-take the k smallest.  Associative and commutative; merging the
    per-part sketches of any partition of the data equals sketching the
    whole (pinned in tests) — the property that makes KMV incremental."""
    h = (sketches.select(*group_cols, F.explode("hashes").alias("hv"))
                 .distinct())
    return _sketch_from_hashes(h, group_cols, k)


def hist_quantile(df: DataFrame, group_cols: Sequence[str], value_col: str,
                  bin_width: float, qs: Sequence[float] = (0.5,)) -> DataFrame:
    """Mergeable histogram-quantile estimation: bucket values into
    fixed-width bins (one map-side-combining groupBy — the histogram is
    the sketch, mergeable by adding counts), then read each requested
    quantile as the upper edge of the first bin whose cumulative count
    reaches ceil(q * n).

    The estimate is deterministic integer arithmetic over the bin grid
    (error bounded by bin_width), so — unlike approxQuantile's
    Greenwald-Khanna sketch, whose output depends on partitioning — it is
    bit-reproducible across engines, partitionings and reruns, and
    hash-oracle-able.  Error vs cost is the caller's bin_width knob.

    Returns one row per (group, q): n, the quantile bin index and its
    inclusive upper edge `q_upper = (bin + 1) * bin_width` (the exact
    quantile lies in (q_upper - bin_width, q_upper]).  NULL values are
    excluded from n, matching SQL aggregate semantics."""
    if not group_cols:
        raise ValueError("group_cols must be non-empty (use a lit group)")
    b = (df.filter(F.col(value_col).isNotNull())
           .select(*group_cols,
                   F.floor(F.col(value_col) / F.lit(float(bin_width)))
                    .cast("long").alias("bin")))
    hist = b.groupBy(*group_cols, "bin").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy(*group_cols).orderBy("bin") \
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wn = Window.partitionBy(*group_cols)
    cum = hist.withColumn("cum", F.sum("cnt").over(w)) \
              .withColumn("n", F.sum("cnt").over(wn))
    # all quantiles in ONE pass: explode the q list against the cumulated
    # histogram instead of one scan+window chain per q (plan-audited: the
    # per-q union form recomputed the whole sketch per quantile)
    qcol = F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q")
    cum = cum.select(*group_cols, "bin", "cum", "n", qcol)
    take = F.ceil(F.col("q") * F.col("n")).cast("long")
    out = (cum.filter(F.col("cum") >= take)
              .groupBy(*group_cols, "q")
              .agg(F.min("bin").alias("qbin"), F.max("n").alias("n")))
    return out.withColumn(
        "q_upper", (F.col("qbin") + 1) * F.lit(float(bin_width)))


# ---------------------------------------------------------------------------
# Count-Min sketch (frequency estimation / heavy hitters)
# ---------------------------------------------------------------------------

def _md5_bucket(salt: str, m: int):
    """Deterministic bucket of string column `v` for hash row `r`: md5 of
    v salted with salt + r, reduced mod m.  Same engine-reproducibility
    argument as kmv_hash_col — DuckDB twin:
    CAST('0x' || substr(md5(v || '<salt><r>'), 1, 12) AS BIGINT) % m."""
    key = F.concat(F.col("v"), F.lit(salt), F.col("r"))
    return (F.conv(F.substring(F.md5(key), 1, HEX_CHARS), 16, 10)
             .cast("long") % m)


def cm_sketch(df: DataFrame, value_col: str, depth: int = 4,
              width: int = 256) -> DataFrame:
    """Count-Min sketch of a column's frequency distribution (Cormode &
    Muthukrishnan 2005): depth hash rows x width counters; every
    occurrence of v increments counter (r, h_r(v)).  Point-query
    estimate = min over rows — never an underestimate, overestimate
    bounded by collisions (eps ~ e/width of the total mass whp).

    The training-pipeline use: heavy-hitter n-grams / URLs / near-dup
    keys at 100 TB in ONE pass and depth*width integers of memory,
    MERGEABLE across shards/days by cell-wise addition (cm_merge) —
    the frequency companion to the KMV distinct sketch above.

    Deterministic by construction (md5 buckets, exact integer counts):
    the sketch hash-oracles and a sketch stored today re-derives
    byte-identically tomorrow, unlike anything seeded from Spark's
    internal hashing.

    Scale shape: the fan-out is depth rows per input row (a broadcast
    explode), the only shuffle is the (row, bucket) groupBy — at most
    depth*width result rows, partial-aggregated map-side."""
    rows = df.sparkSession.createDataFrame(
        [(r,) for r in range(depth)], "r long")
    fan = (df.select(F.col(value_col).cast("string").alias("v"))
             .filter(F.col("v").isNotNull())
             .crossJoin(F.broadcast(rows)))
    # bucket must be computed per (v, r) with the row salt in the key
    return (fan.withColumn("b", _md5_bucket("#cm", width))
               .groupBy("r", "b").agg(F.count("*").alias("cnt"))
               .select(F.col("r").cast("long"),
                       F.col("b").cast("long"),
                       F.col("cnt").cast("long").alias("cnt")))


def cm_merge(sketches: DataFrame) -> DataFrame:
    """Cell-wise addition of Count-Min sketches built with identical
    geometry — the mergeability that lets per-shard/per-day sketches
    combine without rescanning raw data."""
    return (sketches.groupBy("r", "b").agg(F.sum("cnt").alias("cnt"))
                    .select("r", "b", F.col("cnt").cast("long").alias("cnt")))


def cm_estimate(sketch: DataFrame, probes: DataFrame,
                value_col: str = "v", depth: int = 4,
                width: int = 256) -> DataFrame:
    """Point-query frequency estimates for a probe-key table: for each
    probe, min over the depth counters it hashes into (0 when a counter
    row is absent — an empty cell).  The probe side is small by nature
    (the keys you ask about) — broadcast it against the depth*width
    sketch; or broadcast the SKETCH against a huge probe stream, both
    map-side."""
    rows = probes.sparkSession.createDataFrame(
        [(r,) for r in range(depth)], "r long")
    fan = (probes.select(F.col(value_col).cast("string").alias("v"))
                 .distinct()
                 .crossJoin(F.broadcast(rows)))
    keyed = fan.withColumn("b", _md5_bucket("#cm", width))
    j = keyed.join(F.broadcast(sketch), ["r", "b"], "left")
    return (j.groupBy("v")
             .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                  .alias("est")))


# ---------------------------------------------------------------------------
# Bloom filter (membership sketch / semi-join prefilter)
# ---------------------------------------------------------------------------

def bloom_build(df: DataFrame, value_col: str, n_hash: int = 4,
                n_bits: int = 4096) -> DataFrame:
    """Bloom filter over a column's distinct values, as a (word, bits)
    table of 32-bit words — the membership companion to the KMV
    (distinct) and Count-Min (frequency) sketches above, and the
    classic shuffle-free SEMI-JOIN PREFILTER: build on the small side's
    keys, broadcast the <= n_bits/32-row word table, and drop the big
    side's non-members map-side before any join (false positives only
    re-admit rows the real join discards — never wrong, just less
    pruning).

    Deterministic md5 bit positions (the _md5_bucket idiom, salt
    '#bf<row>'), 32-bit words so every shifted value stays positive in
    int64 in both engines; merge = bit_or by word (bloom_merge).  Only
    shuffle: the DISTINCT + the word groupBy, bounded by n_bits/32
    result rows."""
    rows = df.sparkSession.createDataFrame(
        [(r,) for r in range(n_hash)], "r long")
    fan = (df.select(F.col(value_col).cast("string").alias("v"))
             .filter(F.col("v").isNotNull()).distinct()
             .crossJoin(F.broadcast(rows)))
    word = fan.withColumn("p", _md5_bucket("#bf", n_bits)).select(
        (F.col("p") / 32).cast("long").alias("w"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))")
         .alias("m"))
    return (word.groupBy("w").agg(F.bit_or("m").alias("bits"))
                .select(F.col("w").cast("long"),
                        F.col("bits").cast("long").alias("bits")))


def bloom_merge(sketches: DataFrame) -> DataFrame:
    """OR-combine Bloom word tables built with identical geometry."""
    return (sketches.groupBy("w").agg(F.bit_or("bits").alias("bits"))
                    .select("w", F.col("bits").cast("long").alias("bits")))


def bloom_probe(sketch: DataFrame, probes: DataFrame,
                value_col: str = "v", n_hash: int = 4,
                n_bits: int = 4096) -> DataFrame:
    """Membership probe: for each distinct probe value, TRUE iff all
    n_hash bit positions are set (the standard no-false-negative /
    bounded-false-positive contract).  The word table broadcasts; the
    probe side streams map-side — no shuffle beyond the probe's own
    distinct."""
    rows = probes.sparkSession.createDataFrame(
        [(r,) for r in range(n_hash)], "r long")
    fan = (probes.select(F.col(value_col).cast("string").alias("v"))
                 .filter(F.col("v").isNotNull()).distinct()
                 .crossJoin(F.broadcast(rows)))
    keyed = fan.withColumn("p", _md5_bucket("#bf", n_bits)).select(
        "v", (F.col("p") / 32).cast("long").alias("w"),
        (F.col("p") % 32).cast("int").alias("b"))
    j = keyed.join(F.broadcast(sketch), ["w"], "left")
    hit = F.when(F.col("bits").isNull(), F.lit(0)).otherwise(
        F.expr("CAST((bits >> b) & 1 AS INT)"))
    return (j.groupBy("v")
             .agg((F.min(hit) == 1).alias("might_contain")))


# ---------------------------------------------------------------------------
# HyperLogLog (deterministic-register variant)
# ---------------------------------------------------------------------------

# The module docstring's complaint about HLL applies to Spark's
# approx_count_distinct (opaque internal hash => unreproducible).  Built
# over the SAME deterministic md5 idiom as KMV, HyperLogLog itself is
# perfectly reproducible: register j = max over values of
# (leading zeros of a 40-bit hash stream) + 1, estimator = integer-only
# (alpha_16bit * m^2 * 2^(W-16)) DIV S with S = sum 2^(W - M_j) —
# alpha's 2^16 denominator folded into the 2^W numerator so the
# constant 46454 * 64^2 * 2^24 ~ 3.2e15 stays inside int64 and the
# divide is BIGINT DIV, not a double.  Spark and DuckDB then agree
# bit-for-bit — a hash-oracled HLL, which approx_count_distinct can
# never be.  Fixed-size state (m registers) vs KMV's k hashes: the
# right sketch when billions of groups each need a cardinality.
HLL_W = 40                       # rho-stream width in bits
HLL_ALPHA_NUM = 46454            # round(0.70887 * 2^16): alpha_64 = 0.709
HLL_ALPHA_DEN = 65536


def hll_sketch(df: DataFrame, group_cols: Sequence[str], value_col: str,
               p: int = 6) -> DataFrame:
    """Per-group HLL registers: (group..., bucket, register).

    bucket = md5(v + '#hb') % 2^p; the rho stream is an independent
    md5(v + '#hr') 40-bit word w, register = 40 if w == 0 else
    41 - length(bin(w)) (leading zeros + 1 — `bin` drops leading zeros
    identically in Spark and DuckDB).  Only wide op: the (group, bucket)
    max-aggregate, which combines map-side; shuffle volume is bounded by
    groups * 2^p, never by row count.  Buckets no value hashed into are
    absent (the estimator treats them as register 0)."""
    if not group_cols:
        raise ValueError("group_cols must be non-empty (use a lit group)")
    m = 2 ** p
    v = F.col(value_col).cast("string")
    bucket = (F.conv(F.substring(F.md5(F.concat(v, F.lit("#hb"))),
                                 1, HEX_CHARS), 16, 10).cast("long") % m)
    w = F.conv(F.substring(F.md5(F.concat(v, F.lit("#hr"))),
                           1, HLL_W // 4), 16, 10).cast("long")
    rho = F.when(w == 0, F.lit(HLL_W)) \
           .otherwise(F.lit(HLL_W + 1) - F.length(F.bin(w)))
    return (df.filter(v.isNotNull())
              .select(*group_cols, bucket.alias("bucket"), rho.alias("rho"))
              .groupBy(*group_cols, "bucket")
              .agg(F.max("rho").alias("register")))


def hll_merge(sketches: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    """Union semantics: registers combine by per-bucket max."""
    return (sketches.groupBy(*group_cols, "bucket")
                    .agg(F.max("register").alias("register")))


def hll_estimate(sketch: DataFrame, group_cols: Sequence[str],
                 p: int = 6) -> DataFrame:
    """Integer-exact raw-HLL estimate per group.

    S = sum over all m buckets of 2^(W - M_j); absent buckets (M_j = 0)
    contribute 2^W each, added as (m - buckets_hit) * 2^W without
    densifying.  est = (ALPHA_NUM * m^2 * 2^(W-16)) DIV S — pure int64
    arithmetic (numerator ~3.2e15 < 2^63 for p <= 6; guarded), so any
    engine reproduces it exactly.  (No small-range linear-counting
    correction: this is the raw estimator, documented as such; pair
    with the exact count in a driver row to show quality.)"""
    m = 2 ** p
    numer = HLL_ALPHA_NUM * m * m * (2 ** (HLL_W - 16))
    if numer >= 2 ** 63:
        raise ValueError(f"p={p} overflows the int64 estimator numerator")
    agg = sketch.groupBy(*group_cols).agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                     f"CAST({HLL_W} - register AS INT))")).alias("s_hit"),
        F.count("*").alias("n_hit"))
    s = (F.col("s_hit")
         + (F.lit(m) - F.col("n_hit")) * F.lit(2 ** HLL_W)).cast("long")
    return (agg.select(*group_cols, s.alias("s_total"),
                       F.col("n_hit").cast("long").alias("n_hit"))
               .withColumn("est_distinct",
                           F.expr(f"CAST({numer} AS BIGINT) DIV s_total")))


# ---------------------------------------------------------------------------
# 1-D earth mover's distance (histogram drift)
# ---------------------------------------------------------------------------

def emd_1d(df_a: DataFrame, df_b: DataFrame, key_cols: Sequence[str],
           bin_col: str = "bin") -> DataFrame:
    """Exact 1-D EMD (Wasserstein-1) between two samples' histograms
    per group — the drift monitor for training pipelines (feature
    distribution this week vs last week, per-cell reflectance this
    epoch vs baseline): unlike a KS max-gap it weighs HOW FAR mass
    moved, and in 1-D it has the closed form
        EMD = sum over bins of |CDF_a - CDF_b| * bin_width.
    With unequal sample sizes the CDFs are fractions; cross-scaling by
    the two totals makes every term exact int64:
        emd_num = sum_k |n_b * cumA_k - n_a * cumB_k| * span_k
    (span_k = distance to the next occupied bin, so sparse histograms
    count the empty-bin stretches the closed form requires) and EMD in
    bin units = emd_num / (n_a * n_b), recoverable by the caller in
    any precision (int64-safe while n_a * n_b * bin_range < 2^62).
    Gate drift by cross-multiplying the threshold, never dividing.

    Shape: two (key, bin) counts, one full outer join (zero-filled),
    one ordered window cumsum per side, one aggregate.  Shuffles key
    on (group, bin) then group — bounded by histogram size, not rows."""
    ka = [F.col(k) for k in key_cols]
    ca = (df_a.groupBy(*key_cols, bin_col)
              .agg(F.count("*").cast("long").alias("c_a")))
    cb = (df_b.groupBy(*key_cols, bin_col)
              .agg(F.count("*").cast("long").alias("c_b")))
    full = (ca.join(cb, [*key_cols, bin_col], "full")
              .select(*key_cols, bin_col,
                      F.coalesce("c_a", F.lit(0)).alias("c_a"),
                      F.coalesce("c_b", F.lit(0)).alias("c_b")))
    w = (Window.partitionBy(*ka).orderBy(bin_col)
               .rowsBetween(Window.unboundedPreceding, 0))
    wn = Window.partitionBy(*ka)
    wlead = Window.partitionBy(*ka).orderBy(bin_col)
    cum = (full.withColumn("cum_a", F.sum("c_a").over(w))
               .withColumn("cum_b", F.sum("c_b").over(w))
               .withColumn("n_a", F.sum("c_a").over(wn))
               .withColumn("n_b", F.sum("c_b").over(wn))
               # sparse histograms: the CDF gap persists across EMPTY
               # bins, so each occupied bin's term carries the span to
               # the next occupied bin (the last bin's term is 0, its
               # span irrelevant — coalesce to 1)
               .withColumn("span", F.coalesce(
                   F.lead(bin_col).over(wlead) - F.col(bin_col),
                   F.lit(1)).cast("long")))
    term = (F.abs(F.col("n_b") * F.col("cum_a")
                  - F.col("n_a") * F.col("cum_b")) * F.col("span"))
    return (cum.groupBy(*key_cols)
               .agg(F.max("n_a").cast("long").alias("n_a"),
                    F.max("n_b").cast("long").alias("n_b"),
                    F.count("*").cast("long").alias("n_bins"),
                    F.sum(term).cast("long").alias("emd_num")))


# ---------------------------------------------------------------------------
# First-digit (Benford) profile — data-audit gate
# ---------------------------------------------------------------------------

def first_digit_profile(df: DataFrame, group_cols: Sequence[str],
                        value_col: str) -> DataFrame:
    """Leading-significant-digit histogram per group — the Benford's-law
    audit input (fabricated/synthetic/unit-mangled numeric columns skew
    visibly from the log distribution; a per-source profile catches a
    bad ingest batch before it trains anything).

    The leading digit comes from string algebra, not logs: strip sign,
    strip '0.' zeros, first char of the digits — exact for any numeric
    type both engines print identically (integers and decimals; avoid
    raw floats whose to-string differs per engine — cast upstream).
    Ships per (group, digit): count, plus per-group total and the
    2^20-scaled observed fraction ((c * 2^20) DIV n) so the gate
    compares integers against a pre-scaled Benford table downstream —
    log10(1+1/d) itself is irrational and never computed here.

    One map-side-combining groupBy; output 9 rows per group."""
    s = F.regexp_replace(F.col(value_col).cast("string"), r"[-+.]", "")
    s = F.regexp_replace(s, r"^0+", "")
    digit = F.substring(s, 1, 1)
    base = (df.filter(F.col(value_col).isNotNull())
              .select(*group_cols, digit.alias("digit"))
              .filter(F.col("digit") != ""))
    counts = base.groupBy(*group_cols, "digit").agg(
        F.count("*").cast("long").alias("c"))
    wn = Window.partitionBy(*[F.col(k) for k in group_cols])
    return (counts.withColumn("n", F.sum("c").over(wn).cast("long"))
                  .withColumn("frac_2p20",
                              F.expr("(c * 1048576) DIV n")))


def gini_concentration(df: DataFrame, group_cols: Sequence[str],
                       value_col: str = "v") -> DataFrame:
    """Per-group Gini coefficient on the exact 2^20 grid — the
    concentration gate a corpus pipeline runs over source/domain/
    shard contributions (a training mix where 2% of domains carry 80%
    of tokens is a skew AND a diversity problem; Gini is the one-number
    alarm).

    Formula on sorted nonnegative x_1 <= ... <= x_n (rank i):
        G = (2 * sum(i * x_i) - (n + 1) * sum(x)) / (n * sum(x))
    computed entirely in int64 and shipped as gini_q20 = the numerator
    * 2^20 DIV denominator.  Tied values occupy a contiguous rank
    block whose rank-sum is fixed, and x is constant inside the block,
    so sum(i * x_i) — hence the result — is invariant under any tie
    permutation the engine picks.  Hash-exact across engines.

    Shape: one rank window + one aggregate on the same key
    partitioning — a single shuffle."""
    keys = [F.col(k) for k in group_cols]
    w = Window.partitionBy(*keys).orderBy("x")
    base = df.select(*group_cols, F.col(value_col).cast("long").alias("x"))
    ranked = base.withColumn("i", F.row_number().over(w))
    # ix and the q20-scaled numerator live on the decimal(38,0) grid:
    # sum(i * x) nears int64 at ~1e5 rows of 1e7-unit values, and the
    # * 2^20 scaling crosses it long before — Spark int64 multiply
    # WRAPS silently, so the wide grid is correctness, not caution
    return (ranked.groupBy(*group_cols)
            .agg(F.count("*").cast("long").alias("n"),
                 F.sum("x").cast("long").alias("total"),
                 F.sum(F.col("i").cast("decimal(20,0)") * F.col("x"))
                  .cast("decimal(38,0)").alias("ix"))
            .select(*group_cols, "n", "total",
                    F.when(F.col("total") > 0,
                           F.expr("((2 * ix - (n + 1)"
                                  " * CAST(total AS DECIMAL(38,0)))"
                                  " * 1048576)"
                                  " DIV (CAST(n AS DECIMAL(38,0)) * total)"))
                     .otherwise(F.lit(0)).cast("long").alias("gini_q20")))


def chi_square_cells(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Chi-square independence table between two categorical columns —
    the drift/association detector (did the label mix shift across
    shards? is quality correlated with source?) with per-cell
    contributions so the answer says WHICH cells drive the statistic.

    Per cell: observed o, row total r, col total c, grand total N, and
    the exact-rational contribution ((o*N - r*c)^2 * 2^20) DIV
    (r*c*N) — the numerator is squared on the decimal(38,0) grid
    (o*N reaches ~1e12 at 1e6 rows; its square overflows int64, and
    Spark's int64 multiply WRAPS silently where DuckDB errors, so the
    wide grid is correctness, not caution), then the final DIV lands
    back in int64.  chi2_q20 = sum of contrib_q20 over cells
    (downstream one-liner; kept per-cell here).

    Shape: one (a,b) groupBy; marginals as two window sums over the
    cell table (cells, not rows — tiny); one projection."""
    cells = (df.groupBy(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
               .agg(F.count("*").cast("long").alias("o")))
    wa = Window.partitionBy("a")
    wb = Window.partitionBy("b")
    wall = Window.partitionBy()
    t = (cells.withColumn("r", F.sum("o").over(wa).cast("long"))
              .withColumn("c", F.sum("o").over(wb).cast("long"))
              .withColumn("n", F.sum("o").over(wall).cast("long")))
    contrib = F.expr(
        "CAST(((CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c)"
        " * (CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c)"
        " * 1048576) DIV (CAST(r AS DECIMAL(38,0)) * c * n) AS BIGINT)")
    return t.select("a", "b", "o", "r", "c", "n",
                    contrib.alias("contrib_q20"))


def basket_rules(df: DataFrame, basket_col: str, item_col: str,
                 min_count: int = 2) -> DataFrame:
    """Frequent item PAIRS + association rules (the A-priori k=2
    candidate pass, which in practice carries most of market-basket /
    co-occurrence mining): for every unordered item pair co-occurring
    in >= min_count baskets,

        support_q20    = pair_count  * 2^20 DIV n_baskets
        conf_a_to_b    = pair_count  * 2^20 DIV count(a)
        lift_q20       = pair_count * n_baskets * 2^20
                           DIV (count(a) * count(b))

    — all exact int64/decimal divisions on the Q20 grid (lift is the
    log-free PMI twin: >2^20 means positive association).  In a corpus
    pipeline the same operator over (doc, token) is the co-occurrence /
    collocation miner.

    Shape at scale: baskets dedup to distinct (basket, item) once; the
    candidate pairs come from ONE self-join keyed on the basket id
    (fan-out is sum basket_size^2 — cap pathological baskets upstream,
    the standard A-priori caveat); item counts join back broadcast.
    Returns (item_a, item_b, pair_count, count_a, count_b, support_q20,
    conf_a_to_b_q20, conf_b_to_a_q20, lift_q20)."""
    bi = (df.select(F.col(basket_col).alias("b"),
                    F.col(item_col).cast("long").alias("i"))
            .distinct())
    n_b = bi.select("b").distinct().count()
    cnt = bi.groupBy("i").agg(F.count("*").alias("c"))
    l = bi.select("b", F.col("i").alias("item_a"))
    r = bi.select("b", F.col("i").alias("item_b"))
    pairs = (l.join(r, "b")
              .filter(F.col("item_a") < F.col("item_b"))
              .groupBy("item_a", "item_b")
              .agg(F.count("*").alias("pair_count"))
              .filter(F.col("pair_count") >= min_count))
    ca = cnt.select(F.col("i").alias("item_a"), F.col("c").alias("count_a"))
    cb = cnt.select(F.col("i").alias("item_b"), F.col("c").alias("count_b"))
    q = 1 << 20
    out = (pairs.join(F.broadcast(ca), "item_a")
                .join(F.broadcast(cb), "item_b"))
    return out.select(
        "item_a", "item_b", "pair_count", "count_a", "count_b",
        F.expr(f"(pair_count * {q}L) div {n_b}L").alias("support_q20"),
        F.expr(f"(pair_count * {q}L) div count_a").alias("conf_a_to_b_q20"),
        F.expr(f"(pair_count * {q}L) div count_b").alias("conf_b_to_a_q20"),
        F.expr(
            f"CAST((CAST(pair_count AS DECIMAL(38,0)) * {n_b} * {q}) "
            f"DIV (CAST(count_a AS DECIMAL(38,0)) * count_b) AS BIGINT)")
        .alias("lift_q20"))


def voronoi_assign(cells_df: DataFrame, sites_df: DataFrame,
                   ix_col: str = "ix", iy_col: str = "iy",
                   site_id_col: str = "site_id",
                   sx_col: str = "sx", sy_col: str = "sy") -> DataFrame:
    """Discrete Voronoi / Thiessen assignment: each grid cell gets the
    nearest site by exact squared Euclidean distance, ties to the
    smallest site id — service-area allocation, nearest-station
    labeling, the rasterized dual of the kNN suite.

    Shape at scale: the site table is a small dimension, so it is
    collected ONCE (bounded, the broadcast-probe contract) and folded
    as a literal array per cell — a pure map-side F.aggregate argmin
    with NO shuffle and no join at all; 10^12 cells stream through
    whole-stage codegen.  (Contrast: a crossJoin+groupBy would shuffle
    |cells| x |sites| rows to recompute the same argmin.)

    Returns (ix, iy, site_id, d2)."""
    sites = sorted(
        (int(r[site_id_col]), int(r[sx_col]), int(r[sy_col]))
        for r in sites_df.select(site_id_col, sx_col, sy_col).collect())
    if not sites:
        raise ValueError("voronoi_assign needs at least one site")
    lit = F.array(*[
        F.struct(F.lit(sid).cast("long").alias("sid"),
                 F.lit(sx).cast("long").alias("sx"),
                 F.lit(sy).cast("long").alias("sy"))
        for sid, sx, sy in sites])
    g = cells_df.select(F.col(ix_col).cast("long").alias("ix"),
                        F.col(iy_col).cast("long").alias("iy"))
    first = F.element_at(lit, 1)

    def d2(s):
        return ((s["sx"] - F.col("ix")) * (s["sx"] - F.col("ix"))
                + (s["sy"] - F.col("iy")) * (s["sy"] - F.col("iy")))

    init = F.struct(first["sid"].alias("sid"), d2(first).alias("d2"))

    def step(acc, s):
        cand = d2(s)
        better = (cand < acc["d2"]) | \
            ((cand == acc["d2"]) & (s["sid"] < acc["sid"]))
        return F.when(better, F.struct(s["sid"].alias("sid"),
                                       cand.alias("d2"))).otherwise(acc)

    rest = F.slice(lit, 2, max(len(sites) - 1, 0))
    best = F.aggregate(rest, init, step)
    return g.select("ix", "iy",
                    best["sid"].alias("site_id"),
                    best["d2"].alias("d2"))


def quantile_normalize(df: DataFrame, group_col: str, id_col: str,
                       value_col: str) -> DataFrame:
    """Quantile normalization across groups (the batch-effect remover
    of bioinformatics / the feature-distribution equalizer of ML
    pipelines): every group's rank-r value is replaced by the MEAN of
    all groups' rank-r values, so each group ends with an identical
    value distribution.

    Rank = row_number ordered by (value, id) — the id tiebreak makes
    rank assignment deterministic under ties (pinned); the reference
    value is the exact mean on the Q20 grid, sum * 2^20 DIV count
    (values required nonnegative so DIV == floor cross-engine).
    Unequal group sizes are allowed: a rank present in only some
    groups averages over those groups (the tail-rank convention, also
    pinned by test).

    Shape at scale: ONE window (rank within group) + one groupBy(rank)
    producing a ranks-long reference table that joins back broadcast —
    two shuffles, no UDF.  Returns (group, id, value, rank,
    norm_q20)."""
    g = df.select(F.col(group_col).alias("grp"),
                  F.col(id_col).alias("id"),
                  F.col(value_col).cast("long").alias("v"))
    w = Window.partitionBy("grp").orderBy(F.asc("v"), F.asc("id"))
    ranked = g.withColumn("rank", F.row_number().over(w))
    ref = (ranked.groupBy("rank")
                 .agg(F.expr("(sum(v) * 1048576) div count(*)")
                       .alias("norm_q20")))
    return (ranked.join(F.broadcast(ref), "rank")
                  .select("grp", "id", "v", F.col("rank").cast("long")
                          .alias("rank"), "norm_q20"))


def rfm_segments(df: DataFrame, user_col: str, t_col: str,
                 amount_col: str, n_tiles: int = 5) -> DataFrame:
    """RFM customer segmentation — the classic recency/frequency/
    monetary triple, exact: per user recency = max(t), frequency =
    count, monetary = sum(amount); each axis is scored 1..n_tiles by an
    EXACT quantile rank (score = 1 + (rank-1)*n_tiles DIV n — integer
    arithmetic, not ntile(), whose uneven-bucket boundary behavior
    differs between engines), ranks tie-broken by user id so scoring is
    deterministic under every partitioning.

    Shape at scale: one user groupBy + three global rank windows over
    the (small) per-user table.  Returns (user, recency, frequency,
    monetary, r_score, f_score, m_score, rfm) with rfm = 100*r + 10*f
    + m, the standard segment code."""
    base = df.groupBy(F.col(user_col).alias("user")).agg(
        F.max(F.col(t_col).cast("long")).alias("recency"),
        F.count("*").alias("frequency"),
        F.sum(F.col(amount_col).cast("long")).alias("monetary"))
    n = base.count()
    ranked = base.select(
        "user", "recency", "frequency", "monetary",
        *[F.row_number().over(Window.orderBy(F.asc(c), F.asc("user")))
          .alias(f"_rk_{c}")
          for c in ("recency", "frequency", "monetary")])
    scored = ranked.select(
        "user", "recency", "frequency", "monetary",
        *[F.expr(f"1 + ((_rk_{c} - 1) * {n_tiles}) div {n}L")
          .cast("long").alias(f"{c[0]}_score")
          for c in ("recency", "frequency", "monetary")])
    return scored.withColumn(
        "rfm", (100 * F.col("r_score") + 10 * F.col("f_score")
                + F.col("m_score")).cast("long"))


def stratified_exact_sample(df: DataFrame, stratum_col: str,
                            id_col: str, n_total: int) -> DataFrame:
    """EXACT-size stratified sample: allocate n_total draws across
    strata proportionally by the largest-remainder (Hamilton) method —
    base_h = n_total * n_h DIV N, leftover seats to the largest
    remainders (ties to smaller stratum id) — then take EXACTLY k_h
    rows per stratum by md5(id) order (ties by id).  Fully
    deterministic: same rows under any partitioning, engine, or rerun —
    the exact-count upgrade of deterministic_sample's threshold filter
    (which only hits expected counts).

    Shape at scale: stratum sizes are one tiny agg (broadcast back);
    the per-stratum top-k is one rank window keyed by stratum.
    Returns the sampled rows + (stratum, rk, quota)."""
    s = df.withColumn("_h", F.md5(F.col(id_col).cast("string")))
    sizes = (s.groupBy(F.col(stratum_col).alias("_st"))
              .agg(F.count("*").alias("n_h")))
    rows = [(r["_st"], int(r["n_h"])) for r in sizes.collect()]
    rows.sort(key=lambda x: str(x[0]))
    total = sum(n for _, n in rows)
    if total == 0:
        return (df.withColumn("rk", F.lit(0).cast("long"))
                  .withColumn("quota", F.lit(0).cast("long"))
                  .withColumnRenamed(stratum_col, "stratum")
                  .filter(F.lit(False)))
    take = min(n_total, total)
    base = {st: take * n // total for st, n in rows}
    rem = take - sum(base.values())
    # largest remainder first, ties to smaller stratum id (string order)
    by_rem = sorted(rows, key=lambda x: (-(take * x[1] % total), str(x[0])))
    for st, _ in by_rem[:rem]:
        base[st] += 1
    quota = df.sparkSession.createDataFrame(
        [(st, int(k)) for st, k in base.items()],
        f"{stratum_col} string, quota long") \
        if rows and isinstance(rows[0][0], str) else \
        df.sparkSession.createDataFrame(
            [(st, int(k)) for st, k in base.items()],
            f"{stratum_col} long, quota long")
    w = Window.partitionBy(stratum_col).orderBy("_h", id_col)
    ranked = (s.withColumn("rk", F.row_number().over(w))
               .join(F.broadcast(quota), stratum_col))
    return (ranked.filter(F.col("rk") <= F.col("quota"))
                  .drop("_h")
                  .withColumnRenamed(stratum_col, "stratum"))


def abc_analysis(df: DataFrame, item_col: str,
                 value_col: str,
                 a_num: int = 4, a_den: int = 5,
                 b_num: int = 19, b_den: int = 20) -> DataFrame:
    """Pareto / ABC classification — the inventory 80/95 split: items
    ranked by value descending (ties to smaller item id), class A while
    the INCLUSIVE cumulative share is <= a_num/a_den (default 80%),
    B while <= b_num/b_den (95%), else C.  Share comparisons are
    cross-multiplied (cum * den <= num * total) so the class boundary
    is exact — no percentage doubles, no boundary drift between
    engines.

    One groupBy(item) + one global rank-and-cumsum window over the
    (small) item table.  Returns (item, value, rank, cum_value,
    share_q20, cum_share_q20, abc_class)."""
    base = df.groupBy(F.col(item_col).alias("item")).agg(
        F.sum(F.col(value_col).cast("long")).alias("value"))
    w = Window.orderBy(F.desc("value"), F.asc("item"))
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    tot = base.agg(F.sum("value").alias("t")).collect()[0]["t"] or 0
    ranked = (base.withColumn("rank", F.row_number().over(w))
                  .withColumn("cum_value", F.sum("value").over(wc)))
    cls = (F.when(F.col("cum_value") * a_den <= F.lit(a_num * tot), "A")
            .when(F.col("cum_value") * b_den <= F.lit(b_num * tot), "B")
            .otherwise("C"))
    return ranked.select(
        "item", "value", F.col("rank").cast("long").alias("rank"),
        "cum_value",
        F.expr(f"(value * 1048576) div {tot}L").alias("share_q20"),
        F.expr(f"(cum_value * 1048576) div {tot}L").alias("cum_share_q20"),
        cls.alias("abc_class"))


def surprisal_profile(df: DataFrame, group_cols: Sequence[str],
                      value_col: str) -> DataFrame:
    """Integer ENTROPY/surprisal profile per group — the log-free
    diversity axis profile_table lacks: per distinct value,
    surprisal_bits = bitlen(N) - bitlen(cnt) (bitlen = length of the
    binary expansion — the HLL register idiom, identical in Spark's
    bin() and DuckDB's bin()), which brackets log2(N/cnt) within 1
    bit; the group's entropy proxy is the count-weighted mean on the
    Q20 grid,

        entropy_bits_q20 = sum(cnt * bits) * 2^20 DIV N.

    Near 0 = one value dominates (constant column, degenerate key);
    high = uniform spread — the cheap uniformity gate for join-key and
    corpus-field audits, deterministic where a float log2 entropy is
    ulp-ambiguous.  Two map-side-combining groupBys.  Returns (group,
    n, n_distinct, top_cnt, entropy_bits_q20)."""
    cnt = (df.groupBy(*group_cols, F.col(value_col).alias("_v"))
             .agg(F.count("*").alias("cnt")))
    bits = F.length(F.bin(F.col("cnt")))
    per = cnt.groupBy(*group_cols).agg(
        F.sum("cnt").alias("n"),
        F.count("*").alias("n_distinct"),
        F.max("cnt").alias("top_cnt"),
        F.sum(F.col("cnt") * bits).alias("_cb"))
    return per.select(
        *group_cols,
        F.col("n").cast("long").alias("n"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.col("top_cnt").cast("long").alias("top_cnt"),
        F.expr("((n * length(bin(n)) - _cb) * 1048576) div n")
         .cast("long").alias("entropy_bits_q20"))


def weighted_median(df: DataFrame, group_cols: Sequence[str],
                    value_col: str, weight_col: str) -> DataFrame:
    """Exact LOWER weighted median per group: the smallest value whose
    cumulative weight reaches half the total — 2*cumw >= total as a
    cross-multiplied integer predicate, (value, weight) sort order
    id-free but deterministic because equal values merge their weight
    mass (ties inside a value cannot reorder the answer).  The
    aggregation a weighted quality-score gate or a per-cell weighted
    composite needs where the plain median ignores observation weight.

    One (group, value) pre-combine + one window + one min — the value
    table is the shuffle unit, not the rows.  Returns (group, total_w,
    wmedian)."""
    g = (df.select(*group_cols, F.col(value_col).cast("long").alias("v"),
                   F.col(weight_col).cast("long").alias("wt"))
           .groupBy(*group_cols, "v")
           .agg(F.sum("wt").alias("wt")))
    w = (Window.partitionBy(*group_cols).orderBy("v")
               .rowsBetween(Window.unboundedPreceding, 0))
    tot = Window.partitionBy(*group_cols)
    c = (g.withColumn("cumw", F.sum("wt").over(w))
          .withColumn("total_w", F.sum("wt").over(tot)))
    return (c.filter(2 * F.col("cumw") >= F.col("total_w"))
             .groupBy(*group_cols)
             .agg(F.max("total_w").cast("long").alias("total_w"),
                  F.min("v").cast("long").alias("wmedian")))
