"""Catalog / discovery helpers — the metadata side of the source layer.

Reference parity:
  mostcommon_crs            dea_tools/datahandling.py:498-546 (Counter over
                            dataset CRS strings -> most common, warn on mix)
  paths_to_datetimeindex    dea_tools/datahandling.py:704-727 (slice of the
                            file BASENAME -> datetime)
  validate_measurements     data_cube_utilities/data_access_api.py:310-317
                            (requested measurements subset of product's)
  get_full_dataset_extent   data_cube_utilities/data_access_api.py:274-294
                            (per-dimension coordinate arrays of a query)

All distributed work stays in one grouped aggregate or projection; only
single-row / coordinate-sized results are collected.
"""

from __future__ import annotations

import warnings
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.fixpoint import checkpoint


def mostcommon_crs(datasets: DataFrame, crs_col: str = "crs") -> str | None:
    """Most common CRS among matching datasets; deterministic tie-break on
    the CRS string. Warns when several CRSs are present, like the
    reference. One distributed count + a 2-row collect."""
    top = (datasets.groupBy(crs_col).agg(F.count("*").alias("n"))
                   .orderBy(F.desc("n"), F.asc(crs_col))
                   .limit(2).collect())
    if not top:
        return None
    if len(top) > 1:
        warnings.warn(
            f"Multiple CRSs were returned for this query. Defaulting to "
            f"the most common: {top[0][crs_col]}")
    return top[0][crs_col]


def paths_to_datetimeindex(df: DataFrame, path_col: str = "path",
                           string_slice: tuple[int, int] = (0, 10),
                           fmt: str = "yyyy-MM-dd",
                           out_col: str = "datetime") -> DataFrame:
    """Parse acquisition datetimes out of file-path strings: slice
    [start, stop) of the BASENAME (reference semantics — the slice applies
    to the file name, not the whole path), then to_timestamp. Pure JVM
    expressions, safe on billions of paths."""
    start, stop = string_slice
    base = F.element_at(F.split(F.col(path_col), "/"), -1)
    piece = F.substring(base, start + 1, stop - start)
    return df.withColumn(out_col, F.to_timestamp(piece, fmt))


def validate_measurements(df: DataFrame | Sequence[str],
                          measurements: Sequence[str]) -> bool:
    """True iff every requested measurement exists for the product
    (reference: set-subset over the product's measurement list)."""
    cols = df.columns if isinstance(df, DataFrame) else list(df)
    return set(measurements).issubset(set(cols))


def missing_measurements(df: DataFrame | Sequence[str],
                         measurements: Sequence[str]) -> list[str]:
    """The actionable twin: which requested measurements are absent."""
    cols = set(df.columns if isinstance(df, DataFrame) else list(df))
    return sorted(set(measurements) - cols)


def full_dataset_extent(df: DataFrame, time_col: str = "acquired_at",
                        lat_col: str = "y", lon_col: str = "x") -> dict:
    """Per-dimension coordinate arrays of a query result — the reference
    returns {'time': ..., 'latitude': ..., 'longitude': ...} dataarrays;
    here each value is the sorted-distinct single-column DataFrame (lazy;
    collect only what you need). Empty input -> empty dict, matching the
    reference's `return []` on zero dims."""
    if df.isEmpty():
        return {}
    return {
        "time": df.select(time_col).distinct().orderBy(time_col),
        "latitude": df.select(lat_col).distinct().orderBy(lat_col),
        "longitude": df.select(lon_col).distinct().orderBy(lon_col),
    }


def profile_table(df: DataFrame, columns: Sequence[str] | None = None,
                  ts_fmt: str = "yyyy-MM-dd HH:mm:ss") -> DataFrame:
    """ANALYZE-style per-column profile in ONE table scan: for every
    column, (n_rows, n_nulls, n_distinct exact, min/max).  Numeric
    min/max land in min_num/max_num (double); string and temporal
    min/max land in min_str/max_str (temporal formatted via ts_fmt so
    the representation is engine-portable).  The column-quality summary
    the reference derives ad hoc per notebook (dc_utilities'
    clean-pixel percentages, data_access_api's per-dim extents),
    generalized to any table.

    100 TB shape: a single wide aggregate — every stat is an algebraic
    fold with a map-side partial (count / min / max; countDistinct
    expands by n_profiled_columns before the partial, Spark's standard
    multi-distinct EXPAND plan, shuffling only distinct values).  The
    1-row result is checkpointed and exploded to long form DRIVER-side:
    the long-form union never re-executes the scan."""
    from pyspark.sql import types as T

    cols = list(columns) if columns is not None else list(df.columns)
    aggs = [F.count(F.lit(1)).alias("__n")]
    kinds: dict[str, str] = {}
    for c in cols:
        dt = df.schema[c].dataType
        aggs.append(F.count(c).alias(f"{c}__nn"))
        aggs.append(F.countDistinct(c).alias(f"{c}__nd"))
        if isinstance(dt, T.NumericType):
            kinds[c] = "num"
            aggs.append(F.min(c).cast("double").alias(f"{c}__mn"))
            aggs.append(F.max(c).cast("double").alias(f"{c}__mx"))
        elif isinstance(dt, (T.TimestampType, T.TimestampNTZType,
                             T.DateType)):
            kinds[c] = "ts"
            aggs.append(F.date_format(F.min(c), ts_fmt).alias(f"{c}__mn"))
            aggs.append(F.date_format(F.max(c), ts_fmt).alias(f"{c}__mx"))
        else:
            kinds[c] = "str"
            aggs.append(F.min(F.col(c).cast("string")).alias(f"{c}__mn"))
            aggs.append(F.max(F.col(c).cast("string")).alias(f"{c}__mx"))
    one = checkpoint(df.agg(*aggs))

    parts = []
    for c in cols:
        num = kinds[c] == "num"
        parts.append(one.select(
            F.lit(c).alias("col_name"),
            F.col("__n").alias("n_rows"),
            (F.col("__n") - F.col(f"{c}__nn")).alias("n_nulls"),
            F.col(f"{c}__nd").alias("n_distinct"),
            (F.col(f"{c}__mn") if num
             else F.lit(None).cast("double")).alias("min_num"),
            (F.col(f"{c}__mx") if num
             else F.lit(None).cast("double")).alias("max_num"),
            (F.lit(None).cast("string") if num
             else F.col(f"{c}__mn")).alias("min_str"),
            (F.lit(None).cast("string") if num
             else F.col(f"{c}__mx")).alias("max_str")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def fd_violations(df: DataFrame, lhs_cols: Sequence[str], rhs_col: str,
                  label: str | None = None) -> DataFrame:
    """Functional-dependency audit lhs -> rhs: does every lhs key map to
    exactly one rhs value?  The schema-discovery / data-quality check
    (TANE-style FD validation) behind dedup-key selection and dimension
    conformance — run BEFORE trusting a join key at 100 TB.

    One groupBy(lhs) with count + count_distinct(rhs), then a one-row
    fold: n_keys, n_violating_keys (keys seeing >1 distinct rhs),
    n_rows_in_violations (rows under those keys — the blast radius),
    max_distinct_rhs, and holds (no violations).  count_distinct here is
    EXACT per key (the shuffle unit is the key table; per-key distinct
    is map-side partial-aggregated) — approx_count_distinct would break
    the hash oracle and can misreport holds=false.

    Returns one row: (fd, n_keys, n_violating_keys, n_rows_in_violations,
    max_distinct_rhs, holds)."""
    name = label or f"{','.join(lhs_cols)}->{rhs_col}"
    per = (df.groupBy(*lhs_cols)
             .agg(F.count("*").cast("long").alias("n"),
                  F.countDistinct(rhs_col).cast("long").alias("d")))
    return per.agg(
        F.lit(name).alias("fd"),
        F.count("*").cast("long").alias("n_keys"),
        F.sum(F.when(F.col("d") > 1, 1).otherwise(0))
         .cast("long").alias("n_violating_keys"),
        F.sum(F.when(F.col("d") > 1, F.col("n")).otherwise(0))
         .cast("long").alias("n_rows_in_violations"),
        F.max("d").cast("long").alias("max_distinct_rhs"),
        (F.max("d") <= 1).alias("holds"))


def golden_record(df: DataFrame, entity_col: str, field_col: str,
                  value_col: str, ts_col: str,
                  priority_col: str) -> DataFrame:
    """MDM survivorship merge: per (entity, field) elect the surviving
    value by the deterministic rule chain non-null first, freshest
    timestamp, lowest source priority number, then smallest value — a
    total order, so the golden record is reproducible on any engine and
    partitioning (arg_max on floats or unordered ties is not).  Also
    reports the candidate count, distinct non-null values, and a
    conflict flag (>1 distinct survivor-eligible value) — the fields a
    steward actually reviews.

    One window rank + one groupBy over the same key — the per-key data
    is the conflict set, bounded by sources per entity, so the shuffle
    unit is entities x fields regardless of input width."""
    from pyspark.sql import Window

    w = Window.partitionBy(entity_col, field_col).orderBy(
        F.col(value_col).isNull().asc(), F.col(ts_col).desc(),
        F.col(priority_col).asc(), F.col(value_col).asc())
    ranked = df.withColumn("_rn", F.row_number().over(w))
    stats = (df.groupBy(entity_col, field_col)
               .agg(F.count("*").cast("long").alias("n_candidates"),
                    F.countDistinct(value_col).cast("long")
                     .alias("n_distinct_values")))
    return (ranked.filter(F.col("_rn") == 1)
                  .select(entity_col, field_col,
                          F.col(value_col).alias("value"),
                          F.col(ts_col).alias("value_ts"),
                          F.col(priority_col).cast("long")
                           .alias("value_priority"))
                  .join(stats, [entity_col, field_col])
                  .withColumn("conflict",
                              F.col("n_distinct_values") > 1))
