"""Temporal operators: rolling baselines, anomaly, forward-fill, gap stats,
as-of joins, trend slope, calendar grouping, time chunking.

All pure Column/Window algebra — one shuffle on (series key), zero Python.

Reference parity (SURVEY.md 2.5 / 2.3 / 2.4):
  generate_baseline        dc_baseline.py:47-59, dc_chunker.py:174-204
  compute_ndvi_anomaly     dc_ndvi_anomaly.py:28-78
  fast_completion (ffill)  dea_tools/temporal.py:78-119
  find_gaps                data_stats.py:5-42
  nearest / as-of          dea_tools/datahandling.py:806-872
  trend.linear             trend.py:30-71 (closed form covar/var)
  group_datetimes_by_year/month  dc_chunker.py:150-165
  create_time_chunks       dc_chunker.py:128-147
  first/last valid + time  dea_tools/datahandling.py:736-803
"""

from __future__ import annotations

from collections.abc import Sequence
from contextlib import ExitStack

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .fixpoint import materialized


def _w(keys: Sequence[str], time_col: str, *tiebreak: str) -> Window:
    return Window.partitionBy(*keys).orderBy(time_col, *tiebreak)


def rolling_baseline(df: DataFrame, keys: Sequence[str], value_col: str,
                     time_col: str, window: int = 10,
                     method: str = "mean", include_current: bool = False,
                     tiebreak: Sequence[str] = ()) -> DataFrame:
    """Trailing composite over the previous `window` observations
    (dc_baseline.py generate_baseline). method: mean | last_valid."""
    hi = 0 if include_current else -1
    w = _w(keys, time_col, *tiebreak).rowsBetween(-window, hi)
    if method == "mean":
        base = F.avg(value_col).over(w)
    elif method == "last_valid":
        base = F.last(value_col, ignorenulls=True).over(w)
    else:
        raise ValueError(method)
    return df.withColumn("baseline", base)


def anomaly(df: DataFrame, keys: Sequence[str], value_col: str,
            time_col: str, window: int = 10,
            tiebreak: Sequence[str] = ()) -> DataFrame:
    """Scene value vs trailing-median baseline: diff + % change
    (compute_ndvi_anomaly semantics with a rolling baseline)."""
    w = _w(keys, time_col, *tiebreak).rowsBetween(-window, -1)
    base = F.expr(f"percentile({value_col}, 0.5)").over(w)
    return (df.withColumn("baseline", base)
              .withColumn("anomaly", F.col(value_col) - F.col("baseline"))
              .withColumn("pct_change",
                          (F.col(value_col) - F.col("baseline"))
                          / F.nullif(F.col("baseline"), F.lit(0.0))))


def ffill(df: DataFrame, keys: Sequence[str], value_col: str,
          time_col: str, out_col: str | None = None,
          tiebreak: Sequence[str] = ()) -> DataFrame:
    """Forward-fill along time (fast_completion)."""
    w = _w(keys, time_col, *tiebreak).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(out_col or f"{value_col}_filled",
                         F.last(value_col, ignorenulls=True).over(w))


def interp_linear(df: DataFrame, keys: Sequence[str], value_col: str,
                  time_col: str, out_col: str | None = None,
                  tiebreak: Sequence[str] = ()) -> DataFrame:
    """Linear gap interpolation along time — the xarray
    interpolate_na(method='linear') idiom (the reference fills cloud-gap
    series before temporal analysis; ffill above is its 'pad' mode).

    A NULL value takes prev + (next - prev) * (t - t_prev)/(t_next -
    t_prev) between its nearest valid neighbors; leading/trailing NULLs
    (no neighbor on one side) stay NULL, matching interpolate_na's
    default.  `time_col` must be numeric (cast timestamps to epoch).

    Four window functions over one (keys, time) sort — a single shuffle,
    no self-join; all arithmetic is plain double, so the DuckDB twin
    (IGNORE NULLS windows) is bit-identical on integer-derived data."""
    v, t = F.col(value_col), F.col(time_col)
    wb = _w(keys, time_col, *tiebreak).rowsBetween(Window.unboundedPreceding, 0)
    wf = _w(keys, time_col, *tiebreak).rowsBetween(0, Window.unboundedFollowing)
    prev_v = F.last(value_col, ignorenulls=True).over(wb)
    next_v = F.first(value_col, ignorenulls=True).over(wf)
    prev_t = F.last(F.when(v.isNotNull(), t), ignorenulls=True).over(wb)
    next_t = F.first(F.when(v.isNotNull(), t), ignorenulls=True).over(wf)
    frac = (t - prev_t).cast("double") / (next_t - prev_t).cast("double")
    filled = F.when(v.isNotNull(), v.cast("double")) \
              .when(prev_v.isNull() | next_v.isNull(), F.lit(None)) \
              .otherwise(prev_v.cast("double")
                         + (next_v.cast("double") - prev_v.cast("double"))
                         * frac)
    return df.withColumn(out_col or f"{value_col}_interp", filled)


def gap_stats(df: DataFrame, keys: Sequence[str], time_col: str,
              tiebreak: Sequence[str] = ()) -> DataFrame:
    """Per-series min/mean/median/max gap between observations, in
    microseconds (find_gaps)."""
    w = _w(keys, time_col, *tiebreak)
    gap = (F.unix_micros(F.col(time_col).cast("timestamp"))
           - F.unix_micros(F.lag(time_col).over(w).cast("timestamp")))
    g = df.withColumn("_gap", gap).filter(F.col("_gap").isNotNull())
    return g.groupBy(*keys).agg(
        F.min("_gap").alias("gap_min"),
        F.avg("_gap").alias("gap_mean"),
        F.expr("percentile(_gap, 0.5)").alias("gap_median"),
        F.max("_gap").alias("gap_max"),
        F.count("*").alias("n_gaps"))


def trend_slope(df: DataFrame, keys: Sequence[str], value_col: str,
                time_col: str) -> DataFrame:
    """Per-series OLS slope+intercept via covar_pop/var_pop — the closed
    form of trend.linear; no per-pixel UDF fan-out needed."""
    t = F.unix_micros(F.col(time_col).cast("timestamp")).cast("double") / 1e6
    # nullif guard: a single-observation (or constant-time) series has
    # var_pop = 0 — NULL slope, not an ANSI DIVIDE_BY_ZERO
    tvar = F.nullif(F.var_pop(t), F.lit(0.0))
    return df.groupBy(*keys).agg(
        (F.covar_pop(t, F.col(value_col)) / tvar).alias("slope"),
        (F.avg(value_col)
         - (F.covar_pop(t, F.col(value_col)) / tvar) * F.avg(t))
        .alias("intercept"),
        F.corr(t, F.col(value_col)).alias("r"),
        F.count("*").alias("n"))


def _betacf(a: float, b: float, x: np.ndarray) -> np.ndarray:
    """Continued fraction for the incomplete beta function (modified Lentz,
    the classic public-domain numerical recipe) — vectorized over x."""
    x = np.asarray(x, dtype=np.float64)
    tiny = 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c = np.ones_like(x)
    d = 1.0 - qab * x / qap
    d = np.where(np.abs(d) < tiny, tiny, d)
    d = 1.0 / d
    h = d.copy()
    for m in range(1, 200):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        d = np.where(np.abs(d) < tiny, tiny, d)
        c = 1.0 + aa / c
        c = np.where(np.abs(c) < tiny, tiny, c)
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        d = np.where(np.abs(d) < tiny, tiny, d)
        c = 1.0 + aa / c
        c = np.where(np.abs(c) < tiny, tiny, c)
        d = 1.0 / d
        delta = d * c
        h *= delta
        if np.all(np.abs(delta - 1.0) < 1e-12):
            break
    return h


def _betainc(a: float, b: float, x: np.ndarray) -> np.ndarray:
    """Regularized incomplete beta I_x(a, b), vectorized."""
    from math import lgamma

    x = np.clip(np.asarray(x, dtype=np.float64), 0.0, 1.0)
    ln_pre = (lgamma(a + b) - lgamma(a) - lgamma(b))
    with np.errstate(all="ignore"):
        bt = np.where((x > 0) & (x < 1),
                      np.exp(ln_pre + a * np.log(x) + b * np.log1p(-x)), 0.0)
        direct = x < (a + 1.0) / (a + b + 2.0)
        lo = bt * _betacf(a, b, x) / a
        hi = 1.0 - bt * _betacf(b, a, 1.0 - x) / b
        out = np.where(direct, lo, hi)
    out = np.where(x <= 0, 0.0, out)
    out = np.where(x >= 1, 1.0, out)
    return out


def t_sf(t: np.ndarray, df: np.ndarray) -> np.ndarray:
    """Student-t survival function P(T > t), matching scipy.stats.t.sf —
    needed for lag_linregress p-values (dea temporal.py:877-881)."""
    t = np.asarray(t, dtype=np.float64)
    df = np.asarray(df, dtype=np.float64)
    out = np.empty(np.broadcast(t, df).shape, dtype=np.float64)
    tb, db = np.broadcast_arrays(t, df)
    for i in np.ndindex(out.shape):
        ti, di = float(tb[i]), float(db[i])
        if not np.isfinite(ti) or di <= 0:
            out[i] = np.nan
            continue
        x = di / (di + ti * ti)
        half = 0.5 * float(_betainc(di / 2.0, 0.5, np.asarray([x]))[0])
        out[i] = half if ti > 0 else 1.0 - half
    return out


LINREG_SCHEMA_TAIL = (", n long, cov double, cor double, slope double, "
                      "intercept double, pval double, stderr double")


def lag_linregress(df: DataFrame, keys: Sequence[str], x_col: str,
                   y_col: str, time_col: str, lagx: int = 0, lagy: int = 0,
                   tiebreak: Sequence[str] = ()) -> DataFrame:
    """Full lag_linregress_3D (dea temporal.py:811-881): covariance,
    correlation, slope, intercept, p-value, stderr of y on x per series,
    with optional integer lags.

    Spark shape: lags are window lead()s (reference: shift + dropna), the
    five moments are ONE groupBy with map-side partial aggregation
    (covar_pop / corr / var_pop — population semantics exactly as the
    reference's ddof=0 numpy path), and only the tiny per-group result
    crosses into Python for the t-distribution p-value (no scipy: Student-t
    sf via the regularized incomplete beta). The reference computes
    ``pval = t.sf(tstats, n-2) * 2`` literally — for negative correlations
    that exceeds 1; reproduced as-is since it is the published contract."""
    keys = list(keys)
    w = Window.partitionBy(*keys).orderBy(time_col, *list(tiebreak))
    xv = F.lead(x_col, lagx).over(w) if lagx else F.col(x_col)
    yv = F.lead(y_col, lagy).over(w) if lagy else F.col(y_col)
    paired = (df.withColumn("_x", xv).withColumn("_y", yv)
                .filter(F.col("_x").isNotNull() & F.col("_y").isNotNull()))
    agg = paired.groupBy(*keys).agg(
        F.count("*").alias("n"),
        F.avg("_x").alias("_xm"), F.avg("_y").alias("_ym"),
        F.covar_pop("_x", "_y").alias("cov"),
        F.corr("_x", "_y").alias("cor"),
        F.var_pop("_x").alias("_xvar"))

    key_schema = ", ".join(
        f"{k} {agg.schema[k].dataType.simpleString()}" for k in keys)

    def finish(batches):
        for b in batches:
            n = b["n"].to_numpy(np.float64)
            cov = b["cov"].to_numpy(np.float64)
            cor = b["cor"].to_numpy(np.float64)
            xvar = b["_xvar"].to_numpy(np.float64)
            with np.errstate(all="ignore"):
                slope = cov / xvar
                intercept = (b["_ym"].to_numpy(np.float64)
                             - b["_xm"].to_numpy(np.float64) * slope)
                tstats = cor * np.sqrt(n - 2) / np.sqrt(1 - cor * cor)
                stderr = slope / tstats
                pval = t_sf(tstats, n - 2) * 2.0
            out = b[keys].copy()
            out["n"] = b["n"]
            out["cov"], out["cor"] = cov, cor
            out["slope"], out["intercept"] = slope, intercept
            out["pval"], out["stderr"] = pval, stderr
            yield out

    return agg.mapInPandas(finish, schema=key_schema + LINREG_SCHEMA_TAIL)


def tidal_stats(observed: DataFrame, modelled: DataFrame,
                keys: Sequence[str], time_col: str = "ts",
                height_col: str = "tide_height",
                round_stats: int | None = 3) -> DataFrame:
    """Bishop-Taylor tidal bias statistics (dea coastal.py:188-330):
    compare the satellite-OBSERVED tide-height series against the full
    MODELLED series per key — min/max/range of each, spread
    (obs_range/all_range), low/high tide offsets, and the OLS slope +
    p-value of height vs time on both sides.

    The reference's OTPS/TPXO tide *model* is an external artifact (out of
    scope, SURVEY 7.4); this operator is the statistics stage, taking the
    modelled series as a table. Both sides reduce with one map-side
    partial groupBy each; slopes/p-values reuse lag_linregress (t-sf via
    incomplete beta), then a tiny key-on-key join assembles the row."""
    keys = list(keys)
    tsec = F.unix_micros(F.col(time_col).cast("timestamp")).cast("double") / 1e6

    def side(df, tag):
        rng = df.groupBy(*keys).agg(
            F.min(height_col).alias(f"{tag}_min_m"),
            F.max(height_col).alias(f"{tag}_max_m"),
            (F.max(height_col) - F.min(height_col)).alias(f"{tag}_range_m"))
        lr = lag_linregress(
            df.withColumn("_tsec", tsec), keys, "_tsec", height_col, time_col)
        lr = lr.select(*keys, F.col("slope").alias(f"{tag}_slope"),
                       F.col("pval").alias(f"{tag}_pval"))
        return rng.join(lr, keys)

    obs = side(observed, "observed")
    allm = side(modelled, "all")
    j = obs.join(allm, keys)
    # nullif-guarded: a constant modelled series (zero range) yields NULL
    # ratios rather than an ANSI DIVIDE_BY_ZERO (Spark 4 throws for DOUBLE
    # division too); DuckDB's x/0 -> NULL matches.
    rng = F.nullif(F.col("all_range_m"), F.lit(0.0))
    spread = F.col("observed_range_m") / rng
    low_off = F.abs(F.col("all_min_m") - F.col("observed_min_m")) / rng
    high_off = F.abs(F.col("all_max_m") - F.col("observed_max_m")) / rng
    # round_stats=None skips rounding entirely — for engine-parity
    # contracts over exactly-representable (dyadic) heights, the unrounded
    # doubles are bit-identical across engines while a decimal round of a
    # dyadic value can land exactly on a grid half (0.0625 at 3dp) where
    # HALF_UP and rint disagree.
    def _r(c):
        return c if round_stats is None else F.round(c, round_stats)
    return j.select(
        *keys,
        *[_r(F.col(c)).alias(c) for c in
          ("observed_min_m", "all_min_m", "observed_max_m", "all_max_m",
           "observed_range_m", "all_range_m")],
        _r(spread).alias("spread_m"),
        _r(low_off).alias("low_tide_offset"),
        _r(high_off).alias("high_tide_offset"),
        F.col("observed_slope"), F.col("observed_pval"),
        F.col("all_slope"), F.col("all_pval"))


def asof_join(left: DataFrame, right: DataFrame, keys: Sequence[str],
              left_time: str, right_time: str,
              direction: str = "backward",
              right_cols: Sequence[str] = (),
              tolerance_sec: float | None = None) -> DataFrame:
    """As-of join: each left row matched to the nearest right row at or
    before (backward) / after (forward) its time, per key.

    Implemented as the union-tag trick: one sort-based window pass instead
    of a range join — O(n log n) with a single shuffle on the keys, the
    scalable formulation (the join+rank fallback in queries.py is the
    oracle twin).
    """
    keys = list(keys)
    lcols = left.columns
    tag_l = left.select(*keys,
                        F.col(left_time).alias("_t"),
                        F.lit(1).alias("_is_left"),
                        F.struct(*lcols).alias("_lrow"),
                        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}")
                          for c in right_cols])
    tag_r = right.select(*keys,
                         F.col(right_time).alias("_t"),
                         F.lit(0).alias("_is_left"),
                         F.lit(None).cast(tag_l.schema["_lrow"].dataType).alias("_lrow"),
                         *[F.col(c).alias(f"_r_{c}") for c in right_cols])
    u = tag_l.unionByName(tag_r)
    if direction == "backward":
        w = (Window.partitionBy(*keys).orderBy(F.col("_t").asc(), F.col("_is_left").asc())
             .rowsBetween(Window.unboundedPreceding, 0))
        matched = [F.last(f"_r_{c}", ignorenulls=True).over(w).alias(c)
                   for c in right_cols]
        rt = F.last(F.when(F.col("_is_left") == 0, F.col("_t")),
                    ignorenulls=True).over(w).alias("_rt")
    elif direction == "forward":
        w = (Window.partitionBy(*keys).orderBy(F.col("_t").asc(), F.col("_is_left").desc())
             .rowsBetween(0, Window.unboundedFollowing))
        matched = [F.first(f"_r_{c}", ignorenulls=True).over(w).alias(c)
                   for c in right_cols]
        rt = F.first(F.when(F.col("_is_left") == 0, F.col("_t")),
                     ignorenulls=True).over(w).alias("_rt")
    else:
        raise ValueError(direction)
    out = (u.select("*", *matched, rt)
            .filter(F.col("_is_left") == 1))
    if tolerance_sec is not None:
        within = (F.abs(F.unix_micros(F.col("_t").cast("timestamp"))
                        - F.unix_micros(F.col("_rt").cast("timestamp")))
                  <= tolerance_sec * 1e6)
        out = out.select(
            "_lrow", "_rt",
            *[F.when(within, F.col(c)).alias(c) for c in right_cols])
    return out.select(F.col("_lrow.*"),
                      *[F.col(c) for c in right_cols],
                      F.col("_rt").alias("asof_time"))


def group_by_calendar(df: DataFrame, keys: Sequence[str], time_col: str,
                      unit: str = "year") -> DataFrame:
    """Calendar grouping (group_datetimes_by_year/month): adds the bucket
    column, caller aggregates."""
    if unit == "year":
        b = F.year(time_col)
    elif unit == "month":
        b = F.year(time_col) * 100 + F.month(time_col)
    elif unit == "day":
        b = F.to_date(time_col)
    else:
        raise ValueError(unit)
    return df.withColumn("time_bucket", b)


def time_chunks(df: DataFrame, keys: Sequence[str], time_col: str,
                chunk_size: int = 10, descending: bool = False,
                tiebreak: Sequence[str] = ()) -> DataFrame:
    """Assign each observation to a fixed-size time chunk
    (create_time_chunks): chunk = floor((rank-1)/size)."""
    order = [F.col(time_col).desc() if descending else F.col(time_col).asc()] \
        + [F.col(t).asc() for t in tiebreak]
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn(
        "time_chunk",
        F.floor((F.row_number().over(w) - 1) / chunk_size).cast("int"))


def first_last_valid(df: DataFrame, keys: Sequence[str], value_col: str,
                     time_col: str) -> DataFrame:
    """First/last non-null value and their times (dea first/last)."""
    v = F.col(value_col)
    t = F.col(time_col)
    return df.groupBy(*keys).agg(
        F.expr(f"min_by({value_col}, {time_col}) FILTER (WHERE {value_col} IS NOT NULL)")
         .alias("first_value"),
        F.min(F.when(v.isNotNull(), t)).alias("first_time"),
        F.expr(f"max_by({value_col}, {time_col}) FILTER (WHERE {value_col} IS NOT NULL)")
         .alias("last_value"),
        F.max(F.when(v.isNotNull(), t)).alias("last_time"))


# ---------------------------------------------------------------------------
# Dynamic time warping (in-row exact-integer DP)
# ---------------------------------------------------------------------------

def dtw_distance_col(acol, bcol):
    """DTW distance between two array<long> columns as a pure Catalyst
    expression — the O(n*m) dynamic program runs INSIDE the row via a
    nested higher-order aggregate (the Mann-Kendall in-row pair-scan
    shape, one level deeper): the outer fold walks A carrying the DP
    row, the inner fold walks B with the three-way recurrence
    new[j] = |a - B[j]| + min(prev[j], prev[j-1], new[j-1]); the
    out-of-range reads use F.get (0-based, NULL-safe) + coalesce to a
    2^62 sentinel.  |a-b| costs keep everything int64-exact, so the
    distance hash-matches any engine's DTW.

    Zero Python, zero shuffle: cost is per-row CPU, so a million pairs
    DP in parallel wherever their rows live.  Intended for bounded
    series (the classic subsequence/window lengths, n*m <= ~10^6 per
    row); band-limit upstream for longer series."""
    BIG = F.lit(2 ** 62)

    def outer(prev, a):
        def inner(acc2, j):
            cost = F.abs(a - F.element_at(bcol, j.cast("int")))
            up = F.element_at(prev, j.cast("int"))
            diag = F.coalesce(F.get(prev, j.cast("int") - 2), BIG)
            left = F.coalesce(F.get(acc2, F.size(acc2) - 1), BIG)
            return F.concat(acc2,
                            F.array(cost + F.least(up, diag, left)))
        return F.aggregate(F.sequence(F.lit(1), F.size(bcol)),
                           F.array().cast("array<long>"), inner)

    def init_inner(acc, j):
        cost = F.abs(F.element_at(acol, 1)
                     - F.element_at(bcol, j.cast("int")))
        run = F.coalesce(F.get(acc, F.size(acc) - 1), F.lit(0))
        return F.concat(acc, F.array(cost + run))

    row1 = F.aggregate(F.sequence(F.lit(1), F.size(bcol)),
                       F.array().cast("array<long>"), init_inner)
    rest = F.slice(acol, 2, F.greatest(F.size(acol) - 1, F.lit(0)))
    return F.element_at(F.aggregate(rest, row1, outer), F.size(bcol))


def dtw_pairs(series_df: DataFrame, id_col: str = "sid",
              t_col: str = "t", v_col: str = "v") -> DataFrame:
    """All-pairs DTW over a table of integer time series — the
    alignment-tolerant similarity that plain Euclidean windows miss
    (phenology curves shifted by season onset, gauge series shifted by
    routing lag).  Series assemble per id with one
    array_sort(collect_list(struct(t, v))) (deterministic order), then
    every unordered pair (sa < sb) evaluates dtw_distance_col in-row.

    Shape: one groupBy to build series, one self-join on sa < sb (for
    k series that's k(k-1)/2 rows — the caller controls k; at scale
    pair against a broadcast probe set instead, the lsh_ann_batch
    pattern), all DP work in-row."""
    arr = (series_df.groupBy(F.col(id_col).alias("sid"))
           .agg(F.transform(
               F.array_sort(F.collect_list(
                   F.struct(F.col(t_col).alias("t"),
                            F.col(v_col).alias("v")))),
               lambda s: s["v"]).alias("vals"),
               F.count("*").cast("long").alias("n")))
    a = arr.select(F.col("sid").alias("sa"), F.col("vals").alias("va"),
                   F.col("n").alias("n_a"))
    b = arr.select(F.col("sid").alias("sb"), F.col("vals").alias("vb"),
                   F.col("n").alias("n_b"))
    pairs = a.join(b, F.col("sa") < F.col("sb"))
    return pairs.select(
        "sa", "sb", "n_a", "n_b",
        dtw_distance_col(F.col("va"), F.col("vb")).alias("dtw"))


def cusum_changepoint(df: DataFrame, key_cols: Sequence[str],
                      t_col: str = "t", v_col: str = "v") -> DataFrame:
    """Per-series CUSUM changepoint: the split index maximizing the
    scaled deviation |n*S_k - k*S_n| — the classic single-breakpoint
    statistic (a series that is flat-then-shifted peaks exactly at the
    shift), the WHERE companion to mann_kendall's WHETHER.

    The usual statistic max_k |S_k - (k/n)*S_n| is a fraction; scaling
    by n makes every compared value an exact integer (|n*S_k - k*S_n|,
    int64-safe for |sum|*n < 2^62), so argmax and the statistic itself
    hash-match any engine.  Ties break to the EARLIEST k.  Returns per
    series: n, stat_num (the max |n*S_k - k*S_n| over k = 1..n-1),
    k_star (its position), t_star (the time at k_star), plus S_n —
    callers recover the conventional statistic as stat_num / n and
    gate significance however they choose.  Series of length < 2 yield
    NULL k_star (no interior split exists).

    One window pass (running sum + row index) + one aggregate.  At
    scale both shuffle on the series key only."""
    keys = [F.col(k) for k in key_cols]
    w = (Window.partitionBy(*keys).orderBy(t_col)
               .rowsBetween(Window.unboundedPreceding, 0))
    base = df.select(*key_cols, F.col(t_col).alias("t"),
                     F.col(v_col).cast("long").alias("v"))
    run = (base.withColumn("s_k", F.sum("v").over(w))
               .withColumn("k", F.count("*").over(w)))
    sn = (run.groupBy(*key_cols)
             .agg(F.count("*").cast("long").alias("n"),
                  F.sum("v").cast("long").alias("s_n")))
    j = run.join(sn, list(key_cols))
    dev = F.abs(F.col("n") * F.col("s_k") - F.col("k") * F.col("s_n"))
    interior = j.filter(F.col("k") < F.col("n"))
    agg = (interior.groupBy(*key_cols)
           .agg(F.max(F.struct(dev.alias("d"), (-F.col("k")).alias("nk"),
                               F.col("t").alias("t")))
                 .alias("b")))
    return (sn.join(agg, list(key_cols), "left")
              .select(*key_cols, "n", "s_n",
                      F.col("b.d").alias("stat_num"),
                      (-F.col("b.nk")).cast("long").alias("k_star"),
                      F.col("b.t").alias("t_star")))


def acf_profile(df: DataFrame, key_cols: Sequence[str],
                t_col: str = "t", v_col: str = "v",
                max_lag: int = 5) -> DataFrame:
    """Per-series autocorrelation profile at lags 1..max_lag — the
    seasonality/persistence fingerprint that sits next to mann_kendall
    (WHETHER a trend) and cusum_changepoint (WHERE it breaks): a spike
    at lag 7 on daily data is weekly seasonality, slow decay is
    persistence, ~0 everywhere is white noise.

    Lag is POSITIONAL over the t-ordered series (the standard ACF on a
    regularly sampled series; gaps in t are the caller's problem, as
    with every window op here).  For each lag l the Pearson r over the
    paired subsample (v_i, v_{i+l}) is computed from exact int64
    moments — n_pairs, sum_x, sum_y, sum_xx, sum_yy, sum_xy — and the
    hash-stable columns are those integers plus num = n*sxy - sx*sy
    (also exact); acf itself is the one fixed-order double
    round(num / sqrt(varx * vary), 6), NULL when either marginal
    variance is zero (constant run) or n_pairs < 2.

    Shape at scale: ONE window pass computes every lead (same window
    spec, so Spark evaluates all max_lag leads in a single sort), one
    explode by max_lag, one aggregate on (keys, lag) — both shuffles
    key on the series id.  No UDF, no collect.  Int64 bounds:
    |v| <= 2^20 keeps n*sxy safely under 2^62 for series to ~2^20
    points."""
    keys = [F.col(k) for k in key_cols]
    w = Window.partitionBy(*keys).orderBy(t_col)
    base = df.select(*key_cols, F.col(t_col).alias("t"),
                     F.col(v_col).cast("long").alias("v"))
    # generators may not contain window expressions, so the leads land
    # as named columns first (one shared window spec = ONE sort pass),
    # then explode into (lag, y) rows
    led = base.select(
        *key_cols, F.col("v").alias("x"),
        *[F.lead("v", l).over(w).alias(f"_y{l}")
          for l in range(1, max_lag + 1)])
    pairs = (led.select(
                *key_cols, "x",
                F.explode(F.array(*[
                    F.struct(F.lit(l).cast("long").alias("lag"),
                             F.col(f"_y{l}").alias("y"))
                    for l in range(1, max_lag + 1)])).alias("o"))
             .select(*key_cols, "x", F.col("o.lag").alias("lag"),
                     F.col("o.y").alias("y"))
             .filter(F.col("y").isNotNull()))
    agg = (pairs.groupBy(*key_cols, "lag")
           .agg(F.count("*").cast("long").alias("n_pairs"),
                F.sum("x").cast("long").alias("sx"),
                F.sum("y").cast("long").alias("sy"),
                F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
                F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
                F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy")))
    n = F.col("n_pairs")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = n * F.col("syy") - F.col("sy") * F.col("sy")
    return agg.select(
        *key_cols, "lag", "n_pairs",
        num.cast("long").alias("num"),
        varx.cast("long").alias("varx"),
        vary.cast("long").alias("vary"),
        F.when((n >= 2) & (varx > 0) & (vary > 0),
               F.round(num / F.sqrt(varx.cast("double")
                                    * vary.cast("double")), 6))
         .alias("acf"))


def exp_smooth(df: DataFrame, key_cols: Sequence[str],
               t_col: str = "t", v_col: str = "v",
               alpha_num: int = 1, alpha_den: int = 4,
               scale: int = 65536) -> DataFrame:
    """Simple exponential smoothing per series, exact-integer: the
    recursive level l_t = alpha*x_t + (1-alpha)*l_{t-1} on a Q16 fixed-
    point grid, every step ONE nonnegative integer division —
    l_t = ((d-n)*l_{t-1} + n*x_t*scale) DIV d with alpha = n/d.  Floats
    would make the recursion summation-order- and ulp-dependent; on the
    integer grid Spark, DuckDB, and any rerun produce bit-identical
    levels (nonnegative operands, so floor and truncate division
    agree — inputs are required nonnegative, the caller shifts).

    The recursion is inherently sequential IN t but embarrassingly
    parallel ACROSS series, so the series is folded in-row: one
    array_sort(collect_list) builds the (t, x) array per series key
    (one shuffle), F.aggregate threads the level through it JVM-side
    (the dtw/seam-carve idiom — no UDF), posexplode restores long
    form.  Returns (keys, t, x, level_q16); level_q16 / scale is the
    conventional smoothed value.

    Int64 bounds: (d-n)*l + n*x*scale < 2^63 needs x*scale*d < 2^62 —
    x up to ~2^30 at the default Q16/alpha=1/4."""
    keys = [F.col(k) for k in key_cols]
    ser = (df.select(*key_cols, F.col(t_col).alias("t"),
                     F.col(v_col).cast("long").alias("x"))
             .groupBy(*keys)
             .agg(F.array_sort(F.collect_list(F.struct("t", "x")))
                   .alias("s")))
    d, n, sc = alpha_den, alpha_num, scale
    first = F.element_at("s", 1)
    init = F.array(F.struct(first["t"].alias("t"), first["x"].alias("x"),
                            (first["x"] * sc).alias("lvl")))

    def step(acc, e):
        prev = F.element_at(acc, -1)["lvl"]
        num = (d - n) * prev + n * e["x"] * sc
        # exact integer floor-div: float division would round above
        # 2^53, so divide on the decimal(38,0) grid and floor
        lvl = F.floor(num.cast("decimal(38,0)") / F.lit(d)).cast("long")
        return F.concat(acc, F.array(
            F.struct(e["t"].alias("t"), e["x"].alias("x"),
                     lvl.alias("lvl"))))

    rest = F.slice("s", 2, F.greatest(F.size("s") - 1, F.lit(0)))
    folded = ser.select(*key_cols,
                        F.aggregate(rest, init, step).alias("lv"))
    ex = folded.select(*key_cols, F.explode("lv").alias("e"))
    return ex.select(*key_cols, F.col("e.t").alias("t"),
                     F.col("e.x").alias("x"),
                     F.col("e.lvl").cast("long").alias("level_q16"))


def scd2_build(df: DataFrame, key_cols: Sequence[str],
               t_col: str = "t", v_col: str = "v") -> DataFrame:
    """Slowly-changing-dimension type-2 build: collapse a per-key
    change-event stream (key, t, v) into validity intervals
    (key, v, eff_from, eff_to, is_current, n_events) — the standard
    dimension-table maintenance pass every warehouse pipeline runs,
    and the lineage shape the engine's Iceberg read_changes feeds
    (ivm_agg's cursor is a degenerate single-row SCD).

    Semantics: consecutive events carrying the SAME value merge into
    one interval (re-stating a value does not split history);
    eff_from = first event time of the run, eff_to = start of the next
    run (half-open, NULL on the current run), is_current marks the
    open interval.  Deterministic for unique (key, t); equal-t
    duplicates are resolved by the (t, v) sort everywhere.

    Shape at scale: the classic gaps-and-islands plan — one window
    pass (lag + running change-count = run id), one groupBy on
    (key, run), one more window for lead(eff_from).  All three stages
    share the same key partitioning, so AQE coalesces to effectively
    one shuffle of the event stream; no UDF, whole-stage codegen
    end-to-end."""
    keys = [F.col(k) for k in key_cols]
    w = Window.partitionBy(*keys).orderBy("t", "v")
    ev = df.select(*key_cols, F.col(t_col).alias("t"),
                   F.col(v_col).alias("v"))
    runs = ev.withColumn(
        "chg", F.when(F.lag("v").over(w).isNull()
                      | (F.lag("v").over(w) != F.col("v")), 1).otherwise(0)
    ).withColumn("run_id", F.sum("chg").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
    iv = (runs.groupBy(*keys, "run_id")
              .agg(F.min("t").alias("eff_from"),
                   F.first("v").alias("v"),
                   F.count("*").cast("long").alias("n_events")))
    w2 = Window.partitionBy(*keys).orderBy("eff_from")
    return (iv.withColumn("eff_to", F.lead("eff_from").over(w2))
              .withColumn("is_current", F.col("eff_to").isNull())
              .select(*key_cols, "v", "eff_from", "eff_to",
                      "is_current", "n_events",
                      F.col("run_id").cast("long").alias("version")))


def interval_sweep(df: DataFrame, key_cols: Sequence[str],
                   start_col: str = "t0", end_col: str = "t1") -> DataFrame:
    """Interval-overlap profile per key over half-open [t0, t1)
    intervals: maximum concurrency, total covered span (union length),
    interval count, and summed raw length — the sweep-line pass behind
    sensor-uptime, session-overlap, and acquisition-coverage questions
    (the reference's time-gap analytics answer WHERE data is missing;
    this answers how deeply it overlaps, dc_time idiom extended).

    The sweep is the textbook +1/-1 event walk: each interval emits
    (t0, +1) and (t1, -1); events sort by (t, delta) so a closing
    endpoint processes BEFORE an opening one at the same t (half-open
    semantics — touching intervals do not double-count, zero-length
    intervals contribute nothing).  Running sum = concurrency; covered
    span = sum of (next_t - t) where concurrency > 0.  All integer,
    engine-exact.

    Shape at scale: one explode (x2 rows) + one window over the key —
    a single shuffle; no UDF."""
    keys = [F.col(k) for k in key_cols]
    base = df.select(*key_cols,
                     F.col(start_col).cast("long").alias("t0"),
                     F.col(end_col).cast("long").alias("t1"))
    ev = base.select(
        *key_cols,
        F.explode(F.array(
            F.struct(F.col("t0").alias("t"), F.lit(1).alias("d")),
            F.struct(F.col("t1").alias("t"), F.lit(-1).alias("d"))
        )).alias("e")
    ).select(*key_cols, F.col("e.t").alias("t"), F.col("e.d").alias("d"))
    w = Window.partitionBy(*keys).orderBy("t", "d")
    run = (ev.withColumn("conc", F.sum("d").over(
               w.rowsBetween(Window.unboundedPreceding, 0)))
             .withColumn("nxt", F.lead("t").over(w)))
    per = (run.groupBy(*keys)
              .agg(F.max("conc").cast("long").alias("max_concurrency"),
                   F.sum(F.when((F.col("conc") > 0) & F.col("nxt").isNotNull(),
                                F.col("nxt") - F.col("t"))
                          .otherwise(F.lit(0)))
                    .cast("long").alias("covered_span")))
    raw = base.groupBy(*keys).agg(
        F.count("*").cast("long").alias("n_intervals"),
        F.sum(F.col("t1") - F.col("t0")).cast("long").alias("sum_length"))
    return raw.join(per, key_cols).select(
        *key_cols, "n_intervals", "sum_length",
        "max_concurrency", "covered_span")


def sax_words(df: DataFrame, key_cols: Sequence[str],
              t_col: str = "t", v_col: str = "v",
              seg_len: int = 4) -> DataFrame:
    """SAX-style symbolization (Lin/Keogh 2003 shape): each series is
    piecewise-aggregate-approximated into fixed-length segments, each
    segment quantized to a 4-letter alphabet, and the letters
    concatenated into one WORD per series — the index key for motif
    discovery / similarity grouping over millions of series.

    Reproducibility deviation from the paper (documented): classic SAX
    z-normalizes and cuts at Gaussian breakpoints — both float paths
    whose last-ulp behavior differs per engine.  Here the breakpoints
    are EXACT rational multiples of the series' own mean — a segment
    sum s over L points quantizes against k/2 * mean via the cross-
    multiplied integer predicate 2*n*s > k*L*total (k = 1, 2, 3; n =
    series length) — so letters a<b<c<d mean "below half the mean /
    below the mean / below 1.5x / above".  Scale-free like z-norm
    (doubling v leaves the word unchanged), pure int64.

    Shape at scale: one shuffle (groupBy key), then PAA + quantize +
    word build all inside the row via higher-order array functions —
    the exp_smooth/dtw in-row idiom.  Trailing partial segments are
    dropped (PAA convention).  Returns (keys, n_pts, n_segments,
    word)."""
    keys = [F.col(k) for k in key_cols]
    ser = (df.select(*key_cols, F.col(t_col).alias("t"),
                     F.col(v_col).cast("long").alias("x"))
             .groupBy(*keys)
             .agg(F.array_sort(F.collect_list(F.struct("t", "x")))
                   .alias("s")))
    L = seg_len
    n = F.size("s")
    nseg = F.floor(n / L).cast("int")
    total = F.aggregate(
        "s", F.lit(0).cast("long"), lambda acc, e: acc + e["x"])
    segsums = F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda i: F.aggregate(
            F.slice("s", i * L + 1, L), F.lit(0).cast("long"),
            lambda acc, e: acc + e["x"]))
    word = F.concat_ws("", F.transform(
        segsums,
        lambda s: F.element_at(
            F.array(F.lit("a"), F.lit("b"), F.lit("c"), F.lit("d")),
            (F.when(2 * n * s > 1 * L * total, 1).otherwise(0)
             + F.when(2 * n * s > 2 * L * total, 1).otherwise(0)
             + F.when(2 * n * s > 3 * L * total, 1).otherwise(0)
             + 1).cast("int"))))
    return (ser.filter(nseg >= 1)
               .select(*key_cols, n.cast("long").alias("n_pts"),
                       nseg.cast("long").alias("n_segments"),
                       word.alias("word")))


def mad_outliers(df: DataFrame, key_cols: Sequence[str],
                 v_col: str = "v", k: int = 3) -> DataFrame:
    """Robust per-group outlier detection by median absolute deviation
    — the quality gate that survives the heavy-tailed distributions
    where mean/stddev z-scores drown (sensor glitches, scraped-number
    junk, DN spikes): flag x where |x - median| > k * MAD.

    Exact-integer contract: 'median' is the LOWER median (the
    ceil(n/2)-th order statistic) on both passes, so every quantity —
    median, MAD, and the threshold comparison — is pure int64 and
    hash-identical across engines; the conventional interpolated
    median and the 1.4826 consistency constant are float conveniences
    this deliberately trades away (k absorbs the constant).
    MAD = 0 (over half the group identical) degrades to flagging any
    deviation > 0, the standard modified-z fallback.

    Shape at scale: two window passes over the same key partitioning
    (order statistic = row_number vs count), then one map-side
    comparison — no UDF, no collect; AQE reuses the shuffle.  Returns
    per-group (median, mad, n, n_outliers, outlier_ids) with
    outlier_ids capped at 16 smallest offenders for bounded row
    width."""
    keys = [F.col(k_) for k_ in key_cols]
    w = Window.partitionBy(*keys).orderBy("x", "rid")
    base = df.select(*key_cols, F.col(v_col).cast("long").alias("x"),
                     F.monotonically_increasing_id().alias("rid"))
    med = (base.withColumn("rn", F.row_number().over(w))
               .withColumn("n", F.count("*").over(Window.partitionBy(*keys)))
               .withColumn("med", F.max(F.when(
                   F.col("rn") == F.ceil(F.col("n") / 2), F.col("x")))
                   .over(Window.partitionBy(*keys))))
    dev = med.withColumn("ad", F.abs(F.col("x") - F.col("med")))
    w2 = Window.partitionBy(*keys).orderBy("ad", "rid")
    mad = (dev.withColumn("rn2", F.row_number().over(w2))
              .withColumn("mad", F.max(F.when(
                  F.col("rn2") == F.ceil(F.col("n") / 2), F.col("ad")))
                  .over(Window.partitionBy(*keys))))
    flagged = mad.withColumn(
        "is_out",
        F.when(F.col("mad") > 0, F.col("ad") > k * F.col("mad"))
         .otherwise(F.col("ad") > 0))
    return (flagged.groupBy(*keys)
                   .agg(F.first("med").cast("long").alias("median"),
                        F.first("mad").cast("long").alias("mad"),
                        F.count("*").cast("long").alias("n"),
                        F.sum(F.col("is_out").cast("long"))
                         .cast("long").alias("n_outliers"),
                        F.slice(F.array_sort(F.collect_list(
                            F.when(F.col("is_out"), F.col("x")))), 1, 16)
                         .alias("outlier_values")))


def funnel_steps(df: DataFrame, steps: Sequence[str],
                 user_col: str = "user", t_col: str = "t",
                 step_col: str = "step") -> DataFrame:
    """Ordered-funnel conversion (the product-analytics staple): per
    user, step k counts only if it occurs STRICTLY AFTER the user's
    completion of step k-1 (earliest-completion semantics — each
    step's timestamp is the min event time after the previous step's
    timestamp, the standard greedy matching that maximizes conversion
    counts).  Returns one row per step: users reaching it, conversion
    vs step 1 and vs the previous step on the exact 2^20 grid.

    Shape at scale: one filtered min-agg per step joined to the
    previous step's per-user table — len(steps) key-partitioned
    shuffles total (steps is small and fixed); the final summary is a
    len(steps)-row union.  No windows over the raw event stream, no
    UDF."""
    ev = df.select(F.col(user_col).alias("u"),
                   F.col(t_col).cast("long").alias("t"),
                   F.col(step_col).alias("s"))
    counts = []
    prev = None
    with ExitStack() as stack:
        for s in steps:
            cur = ev.filter(F.col("s") == s)
            if prev is not None:
                cur = (cur.join(prev.select("u", F.col("ts").alias("_pt")),
                                "u")
                          .filter(F.col("t") > F.col("_pt")))
            # one row per surviving user — tiny; materialize so step k+1
            # and the count action don't re-run the whole upstream chain
            prev = stack.enter_context(materialized(
                cur.groupBy("u").agg(F.min("t").alias("ts"))))
            counts.append(prev.count())
    spark = df.sparkSession
    n1 = counts[0] if counts else 0
    rows = []
    for i, (s, n) in enumerate(zip(steps, counts)):
        prev_n = counts[i - 1] if i else n1
        rows.append((i + 1, s, n,
                     (n * (1 << 20)) // n1 if n1 else 0,
                     (n * (1 << 20)) // prev_n if prev_n else 0))
    return spark.createDataFrame(
        rows, "step_idx long, step string, n_users long, "
              "conv_from_first_q20 long, conv_from_prev_q20 long")


def _trunc_div(num, den: int):
    """Truncate-toward-zero integer division of a possibly NEGATIVE
    Column numerator by a positive literal, exact on the decimal(38,0)
    grid — matches both Spark's `div` and DuckDB's `//` (both truncate;
    F.floor alone would disagree on negatives).  Usable inside
    higher-order lambdas where the `div` SQL operator can't reach."""
    q = F.floor(F.abs(num).cast("decimal(38,0)") / F.lit(den)).cast("long")
    return F.when(num < 0, -q).otherwise(q)


def holt_smooth(df: DataFrame, key_cols: Sequence[str],
                t_col: str = "t", v_col: str = "v",
                alpha_num: int = 1, alpha_den: int = 4,
                beta_num: int = 1, beta_den: int = 5,
                scale: int = 65536) -> DataFrame:
    """Holt's linear (two-parameter) smoothing per series, exact-integer
    on the Q16 grid — the trend-aware extension of exp_smooth:

        l_t = (n_a*x_t*sc + (d_a-n_a)*(l_{t-1} + b_{t-1})) tdiv d_a
        b_t = (n_b*(l_t - l_{t-1}) + (d_b-n_b)*b_{t-1})    tdiv d_b

    with alpha = n_a/d_a, beta = n_b/d_b, l_1 = x_1*sc, b_1 = 0.  The
    trend b_t goes NEGATIVE on declining series, so every division is
    the truncate-toward-zero _trunc_div — bit-identical to DuckDB's
    `//` (floor division would disagree on negative numerators).

    Same shape as exp_smooth: sequential IN t, embarrassingly parallel
    ACROSS series — one array_sort(collect_list) per key (one shuffle),
    F.aggregate threads (level, trend) through the array JVM-side, no
    UDF.  Returns (keys, t, x, level_q16, trend_q16); level+trend is
    the one-step forecast.  Int64 bounds: |x|*scale*d_a < 2^62."""
    keys = [F.col(k) for k in key_cols]
    ser = (df.select(*key_cols, F.col(t_col).alias("t"),
                     F.col(v_col).cast("long").alias("x"))
             .groupBy(*keys)
             .agg(F.array_sort(F.collect_list(F.struct("t", "x")))
                   .alias("s")))
    na, da, nb, db, sc = alpha_num, alpha_den, beta_num, beta_den, scale
    first = F.element_at("s", 1)
    init = F.array(F.struct(
        first["t"].alias("t"), first["x"].alias("x"),
        (first["x"] * sc).alias("lvl"),
        F.lit(0).cast("long").alias("tr")))

    def step(acc, e):
        prev = F.element_at(acc, -1)
        lvl = _trunc_div(na * e["x"] * sc
                         + (da - na) * (prev["lvl"] + prev["tr"]), da)
        tr = _trunc_div(nb * (lvl - prev["lvl"])
                        + (db - nb) * prev["tr"], db)
        return F.concat(acc, F.array(F.struct(
            e["t"].alias("t"), e["x"].alias("x"),
            lvl.alias("lvl"), tr.alias("tr"))))

    rest = F.slice("s", 2, F.greatest(F.size("s") - 1, F.lit(0)))
    folded = ser.select(*key_cols,
                        F.aggregate(rest, init, step).alias("lv"))
    ex = folded.select(*key_cols, F.explode("lv").alias("e"))
    return ex.select(*key_cols, F.col("e.t").alias("t"),
                     F.col("e.x").alias("x"),
                     F.col("e.lvl").cast("long").alias("level_q16"),
                     F.col("e.tr").cast("long").alias("trend_q16"))


def seasonal_decompose(df: DataFrame, key_cols: Sequence[str],
                       period: int,
                       t_col: str = "t", v_col: str = "v",
                       scale: int = 65536) -> DataFrame:
    """Additive seasonal decomposition (classic moving-average method,
    STL's simple ancestor) per series, exact-integer on the Q16 grid:

        trend_t    = mean over the centered odd `period` window (full
                     windows only, NULL at the edges) — sum*sc tdiv p
        seasonal_p = mean of (x*sc - trend) over each phase t%period
        resid_t    = x*sc - trend_t - seasonal_{t%p}

    Detrended values go negative, so every division is truncate-toward-
    zero (DuckDB `//` parity).  Seasonal indices are the raw phase
    means (no sum-to-zero renormalization — documented, determinism
    over convention).  `period` must be odd so the centered window
    needs no half-weight ends.

    Shape: two window functions over ONE (key, t) sort order + one
    (key, phase) groupBy + one broadcast-size join back — two shuffles
    total, all JVM codegen, no UDF.  Returns (keys, t, x, trend_q16,
    seasonal_q16, resid_q16)."""
    if period % 2 == 0:
        raise ValueError("period must be odd for a centered window")
    half = period // 2
    keys = [F.col(k) for k in key_cols]
    w = (Window.partitionBy(*keys).orderBy("t")
               .rowsBetween(-half, half))
    base = (df.select(*key_cols, F.col(t_col).alias("t"),
                      F.col(v_col).cast("long").alias("x"))
              .withColumn("n_win", F.count("*").over(w))
              .withColumn(
                  "trend_q16",
                  F.when(F.col("n_win") == period,
                         _trunc_div(F.sum("x").over(w) * scale, period))))
    det = base.withColumn("phase", F.col("t") % period)
    seas = (det.filter(F.col("trend_q16").isNotNull())
               .groupBy(*keys, "phase")
               .agg(F.sum(F.col("x") * scale - F.col("trend_q16"))
                     .alias("snum"),
                    F.count("*").alias("scnt"))
               .select(*key_cols, "phase",
                       _trunc_div_col(F.col("snum"), F.col("scnt"))
                       .alias("seasonal_q16")))
    out = (det.join(F.broadcast(seas), [*key_cols, "phase"], "left")
              .select(*key_cols, "t", "x", "trend_q16", "seasonal_q16",
                      (F.when(F.col("trend_q16").isNotNull(),
                              F.col("x") * scale - F.col("trend_q16")
                              - F.col("seasonal_q16")))
                      .cast("long").alias("resid_q16")))
    return out


def _trunc_div_col(num, den):
    """_trunc_div with a COLUMN denominator (positive)."""
    q = (F.floor(F.abs(num).cast("decimal(38,0)")
                 / den.cast("decimal(38,0)"))).cast("long")
    return F.when(num < 0, -q).otherwise(q)


def retention_cohorts(df: DataFrame, user_col: str = "user",
                      t_col: str = "t", period: int = 7) -> DataFrame:
    """Cohort retention analysis — the standard product-analytics
    triangle: users are cohorted by the period of their FIRST event
    (cohort = min(t) DIV period), and every (cohort, offset) cell
    counts the cohort's users active `offset` periods later, with the
    retention rate on the Q20 grid (rate = n_active * 2^20 DIV
    cohort_size; offset 0 is the cohort size itself, rate 2^20).

    Exact integers throughout (t and period nonnegative, so DIV ==
    floor on both engines).

    Shape at scale: one groupBy(user) for first-event cohorts, one
    distinct over (user, period_idx) for activity, one equi-join on the
    user id (both sides shuffle on the same key and co-partition), one
    final small aggregate.  Returns (cohort, offset, n_active,
    cohort_size, rate_q20)."""
    ev = df.select(F.col(user_col).alias("u"),
                   F.expr(f"{t_col} div {period}").alias("p"))
    first = ev.groupBy("u").agg(F.min("p").alias("cohort"))
    active = ev.distinct()
    sizes = first.groupBy("cohort").agg(
        F.count("*").alias("cohort_size"))
    cells = (active.join(first, "u")
                   .groupBy("cohort", (F.col("p") - F.col("cohort"))
                            .alias("offset"))
                   .agg(F.countDistinct("u").alias("n_active")))
    return (cells.join(F.broadcast(sizes), "cohort")
                 .select("cohort", "offset",
                         F.col("n_active").cast("long").alias("n_active"),
                         F.col("cohort_size").cast("long")
                          .alias("cohort_size"),
                         F.expr("(n_active * 1048576) div cohort_size")
                          .alias("rate_q20")))


def time_weighted_avg(df: DataFrame, key_cols: Sequence[str],
                      t_col: str = "t", v_col: str = "v") -> DataFrame:
    """Time-weighted average per series — the correct mean for
    IRREGULARLY sampled step signals (sensor gauges, tide states,
    prices): each observation holds until the next one, so

        twa_q20 = sum(v_i * (t_{i+1} - t_i)) * 2^20 DIV (t_n - t_1)

    (the last observation carries no forward interval).  A plain AVG
    over-weights burst samples; the reference's tidal/temporal stats
    implicitly assume regular sampling — this is the irregular-grid
    generalization.  Exact int64 with truncating division (DuckDB `//`
    parity, values may be negative).  Series with one observation (or
    zero span) return NULL twa.

    One lead window + one aggregate on the series key — single
    shuffle.  Returns (keys, n, t_first, t_last, twa_q20)."""
    g = df.select(*key_cols, F.col(t_col).cast("long").alias("t"),
                  F.col(v_col).cast("long").alias("v"))
    # (t, v) order: duplicate timestamps get zero-width intervals
    # deterministically instead of an ambiguous lead
    w = Window.partitionBy(*key_cols).orderBy("t", "v")
    g = g.withColumn("_dt", F.lead("t").over(w) - F.col("t"))
    agg = g.groupBy(*key_cols).agg(
        F.count("*").alias("n"),
        F.min("t").alias("t_first"),
        F.max("t").alias("t_last"),
        F.sum(F.col("v") * F.col("_dt")).alias("_num"))
    return agg.select(
        *key_cols, "n", "t_first", "t_last",
        F.when(F.col("t_last") > F.col("t_first"),
               F.expr("(_num * 1048576) div (t_last - t_first)"))
         .alias("twa_q20"))


def ohlc_bars(df: DataFrame, key_cols: Sequence[str], bucket: int,
              t_col: str = "t", v_col: str = "v") -> DataFrame:
    """OHLC (open/high/low/close) candlestick bars per series and time
    bucket — the canonical downsampler for price/level series.  Open
    and close are decided by PACKED keys (t * 2^32 + v, requiring
    0 <= v < 2^32 and t >= 0): min/max of the pack is the value at the
    earliest/latest tick with a deterministic value tiebreak at equal
    t — engine-portable where min_by/arg_min tie behavior is not.

    ONE map-side-combining groupBy on (keys, bucket); exact integers.
    Returns (keys, bucket, open, high, low, close, n_ticks, vsum)."""
    p = (F.col("t") * F.lit(1 << 32) + F.col("v"))
    g = df.select(*key_cols,
                  F.col(t_col).cast("long").alias("t"),
                  F.col(v_col).cast("long").alias("v")) \
          .withColumn("_b", F.expr(f"t div {bucket}L"))
    return (g.groupBy(*key_cols, F.col("_b").alias("bucket"))
             .agg((F.min(p) % F.lit(1 << 32)).cast("long").alias("open"),
                  F.max("v").alias("high"),
                  F.min("v").alias("low"),
                  (F.max(p) % F.lit(1 << 32)).cast("long").alias("close"),
                  F.count("*").alias("n_ticks"),
                  F.sum("v").alias("vsum")))


def markov_transitions(df: DataFrame, key_cols: Sequence[str],
                       t_col: str = "t",
                       state_col: str = "state") -> DataFrame:
    """First-order Markov transition table over per-key event
    sequences: count every (state, next_state) adjacency in (t, state)
    order — the state tiebreak makes equal-timestamp sequences
    deterministic — with the row-conditional probability on the Q20
    grid and the argmax next state per source (ties to the smallest
    next state, the downsample_mode idiom).  The sequence twin of the
    grid transition_matrix: session path analysis, next-event
    prediction baselines, UI funnel graphs.

    One lag window on the key partitioning + one (state, next) groupBy.
    Returns (state, next_state, n, p_q20, is_top_next)."""
    w = Window.partitionBy(*key_cols).orderBy(t_col, state_col)
    g = (df.select(*key_cols, F.col(t_col).alias("t"),
                   F.col(state_col).alias("state"))
           .withColumn("_next", F.lead("state").over(w))
           .filter(F.col("_next").isNotNull()))
    cnt = g.groupBy("state", F.col("_next").alias("next_state")) \
           .agg(F.count("*").alias("n"))
    tot = cnt.groupBy("state").agg(F.sum("n").alias("ntot"))
    top = (cnt.groupBy("state")
              .agg(F.min(F.struct((-F.col("n")).alias("nn"),
                                  F.col("next_state").alias("s")))
                    .alias("b"))
              .select("state", F.col("b.s").alias("_top")))
    return (cnt.join(tot, "state").join(top, "state")
               .select("state", "next_state",
                       F.col("n").cast("long").alias("n"),
                       F.expr("(n * 1048576) div ntot").alias("p_q20"),
                       (F.col("next_state") == F.col("_top"))
                       .cast("int").alias("is_top_next")))


def minmax_decimate(df: DataFrame, key_cols: Sequence[str],
                    n_buckets: int,
                    t_col: str = "t", v_col: str = "v") -> DataFrame:
    """Min-max decimation — the lossy series downsampler that preserves
    envelopes (what plotting and anomaly-triage actually need; a plain
    every-Nth stride erases spikes): per series, time is cut into
    n_buckets equal spans and each bucket keeps its min-value and
    max-value points (packed-key argmin/argmax — v * 2^32 + t_offset —
    deterministic in any engine: value ties resolve to the EARLIEST t
    for the min point and the LATEST t for the max point).  Values must
    be nonnegative (the packed decode is a truncating div).  A bucket
    whose min and max coincide emits one row.

    ONE groupBy over (keys, bucket) + an explode of at most 2 structs —
    map-side combining, no window.  Returns (keys, bucket, t, v, kind)
    with kind in ('min', 'max', 'both')."""
    g = df.select(*key_cols, F.col(t_col).cast("long").alias("t"),
                  F.col(v_col).cast("long").alias("v"))
    w = Window.partitionBy(*key_cols)
    g = (g.withColumn("_t0", F.min("t").over(w))
          .withColumn("_t1", F.max("t").over(w))
          .withColumn("_b", F.least(
              F.expr(f"((t - _t0) * {n_buckets}L) div "
                     f"greatest(_t1 - _t0 + 1, 1)"),
              F.lit(n_buckets - 1))))
    pack_min = F.min(F.col("v") * F.lit(1 << 32) + (F.col("t") - F.col("_t0")))
    pack_max = F.max(F.col("v") * F.lit(1 << 32) + (F.col("t") - F.col("_t0")))
    agg = (g.groupBy(*key_cols, F.col("_b").alias("bucket"))
            .agg(pack_min.alias("_pmin"), pack_max.alias("_pmax"),
                 F.min("_t0").alias("_t0")))
    both = (F.expr("_pmin div 4294967296")
            == F.expr("_pmax div 4294967296"))  # VALUES tie, not packs
    ex = agg.select(
        *key_cols, "bucket",
        F.explode(F.when(both, F.array(F.struct(
            F.col("_pmin").alias("p"), F.lit("both").alias("kind"))))
            .otherwise(F.array(
                F.struct(F.col("_pmin").alias("p"),
                         F.lit("min").alias("kind")),
                F.struct(F.col("_pmax").alias("p"),
                         F.lit("max").alias("kind"))))).alias("e"),
        "_t0")
    return ex.select(
        *key_cols, "bucket",
        (F.col("e.p") % F.lit(1 << 32) + F.col("_t0")).cast("long")
        .alias("t"),
        F.expr("e.p div 4294967296").cast("long").alias("v"),
        F.col("e.kind").alias("kind"))


def sad_motifs(df: DataFrame, key_cols: Sequence[str], t_col: str,
               v_col: str, w: int = 8, excl: int | None = None,
               pack_bits: int = 20) -> DataFrame:
    """Matrix-profile-style motif discovery under the SAD metric: for
    every length-w window of each series, the nearest OTHER window of
    the same series (trivial matches |i-j| < excl skipped, excl
    defaults to w) by exact integer sum-of-absolute-differences, plus
    that distance.  The float matrix profile (MASS/STOMP) z-normalizes
    with sqrt — not cross-engine bit-stable; SAD keeps the whole
    profile on the int64 lattice so the (distance, argmin) pair hashes
    identically anywhere, and is itself a standard profile variant
    (non-normalized motif/discord discovery).

    Windows are one collect_list over an ordered frame (rows i..i+w-1)
    — arrays, not a w-way self-join; the pair stage is a per-key
    equi-join with j >= i + excl, SAD folded JVM-side by
    zip_with + aggregate (no UDF), and the per-window argmin is ONE
    min() over the packed key sad * 2^pack_bits + j (tie -> smaller j),
    the same packed-argmin idiom as the winnowing rightmost rule.

    Shape at scale: O(n_w^2) pairs per series — exact and fine when
    series are bounded (the per-key n here); at million-point series
    band the join by time-bucket or prefilter candidates with the
    existing sax_words buckets, both of which keep this operator's
    join+fold shape.  Requires sad < 2^(63-pack_bits) and window index
    < 2^pack_bits (asserted nowhere hot: values are caller-scaled).

    Returns (keys..., i, nn_j, nn_sad): i is the 1-based window start
    rank in t-order."""
    if excl is None:
        excl = w
    keys = list(key_cols)
    ordw = Window.partitionBy(*keys).orderBy(t_col)
    vecw = ordw.rowsBetween(0, w - 1)
    win = (df.withColumn("i", F.row_number().over(ordw))
             .withColumn("vec", F.collect_list(
                 F.col(v_col).cast("long")).over(vecw))
             .filter(F.size("vec") == w)
             .select(*keys, "i", "vec"))
    a = win.select(*keys, F.col("i").alias("ia"), F.col("vec").alias("va"))
    b = win.select(*keys, F.col("i").alias("ib"), F.col("vec").alias("vb"))
    sad = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: F.abs(x - y)),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    pairs = (a.join(b, keys)
              .filter(F.col("ib") >= F.col("ia") + excl)
              .select(*keys, "ia", "ib", sad.alias("sad")))
    both = (pairs.select(*keys, F.col("ia").alias("i"),
                         F.col("ib").alias("j"), "sad")
                 .unionAll(pairs.select(*keys, F.col("ib").alias("i"),
                                        F.col("ia").alias("j"), "sad")))
    packed = both.select(
        *keys, "i",
        (F.col("sad") * (1 << pack_bits) + F.col("j")).alias("pk"))
    best = packed.groupBy(*keys, "i").agg(F.min("pk").alias("pk"))
    return best.select(
        *keys, F.col("i").cast("long").alias("i"),
        (F.col("pk") % (1 << pack_bits)).cast("long").alias("nn_j"),
        F.expr(f"pk div {1 << pack_bits}").cast("long").alias("nn_sad"))
