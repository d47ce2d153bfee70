"""Iceberg-style table layer: snapshot-committed partitioned Parquet with
per-partition lineage + metrics, atomic pointer flips, and pipeline resume.

No Iceberg runtime jars exist in this environment (SURVEY.md 7.0), so the
semantics are emulated on plain Parquet + JSON:

  <table>/
    data/v00003/<partition dirs>/part-*.parquet   one dir per commit
    snapshots/v00003.json                          manifest (see below)
    VERSION                                        atomic pointer (tmp+rename)

Manifest: {version, parent, operation (overwrite|append|delete|merge),
schema (the written DataFrame's `schema.jsonValue()`), partition_cols,
partitions: [{values, row_count, metrics{col: {min,max}}}], total_rows,
lineage (free-form provenance dict: inputs, step name, parameters),
created_utc}; delete and merge commits add delete_cols, and a merge adds
delete_schema (its keyset's schema).

Guarantees:
- readers only ever see fully-committed data (pointer flips after the
  parquet write completes; half-written dirs are invisible);
- resume: a pipeline step that already committed (same step key in lineage)
  is skipped — `latest_step()` / `has_step()`;
- scans are planned from the manifests alone: every commit dir is read
  with its recorded schema, so planning a read runs no Spark job and
  partition columns keep their declared types (a string "007" stays a
  string).  A manifest without `schema` (written before it was recorded)
  still reads, by inference;
- per-partition row counts + column min/max come from the Parquet footers
  the write just produced, read on the driver: a commit runs its write
  job(s) and nothing else.  A chunk whose footer has no bounds (Spark's
  INT96 timestamps, binaries over parquet-mr's 4 KB stats limit) records
  a null metric, which never prunes; zero-row files are skipped, so an
  empty commit records `partitions: []`;
- time travel: `read(spark, version=N)` reconstructs any snapshot.

Swap-in path: if real Iceberg jars appear, `commit` maps to
DataFrame.writeTo(...).append()/overwritePartitions() and the manifest maps
to Iceberg's own snapshot summary — the operator API here stays unchanged.

Reference parity: this layer replaces the reference's ad-hoc chunk
checkpointing (`intermediate_product` accumulation, dc_mosaic.py:117-185,
and the chunked workflow of dc_chunker.py / SURVEY.md 3.2) with atomic,
inspectable commits.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Sequence
from functools import reduce
from urllib.parse import unquote

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class SnapshotTable:
    def __init__(self, path: str):
        self.path = path
        self.snap_dir = os.path.join(path, "snapshots")
        self.data_dir = os.path.join(path, "data")
        os.makedirs(self.snap_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # -- pointer ----------------------------------------------------------
    @property
    def _version_file(self) -> str:
        return os.path.join(self.path, "VERSION")

    def current_version(self) -> int | None:
        try:
            with open(self._version_file) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def _flip_pointer(self, version: int) -> None:
        tmp = self._version_file + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(version))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._version_file)  # atomic on POSIX

    # -- manifests ---------------------------------------------------------
    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.snap_dir, f"v{version:05d}.json")

    def manifest(self, version: int | None = None) -> dict | None:
        v = self.current_version() if version is None else version
        if v is None:
            return None
        with open(self._manifest_path(v)) as f:
            return json.load(f)

    def history(self) -> list[dict]:
        out = []
        v = self.current_version()
        while v is not None:
            m = self.manifest(v)
            out.append(m)
            v = m.get("parent")
        return out

    def all_versions(self) -> list[int]:
        """Every committed version on disk, including ones orphaned by a
        rollback (not reachable from the current head)."""
        out = []
        for f in os.listdir(self.snap_dir):
            if f.startswith("v") and f.endswith(".json"):
                out.append(int(f[1:-5]))
        return sorted(out)

    # -- commit ------------------------------------------------------------
    def _next_version(self) -> tuple[int, int | None]:
        parent = self.current_version()
        # next version = max EXISTING version + 1 (not parent + 1): after a
        # rollback the head is older than orphaned versions, and a commit
        # must branch without clobbering their manifests/data
        existing = self.all_versions()
        return (0 if not existing else existing[-1] + 1), parent

    def commit(self, df: DataFrame, partition_cols: Sequence[str] = (),
               operation: str = "overwrite",
               metrics_cols: Sequence[str] = (),
               lineage: dict | None = None,
               delete_cols: Sequence[str] | None = None) -> int:
        """Write df as the next snapshot; returns the new version.

        operation='delete' writes df as an EQUALITY-DELETE keyset
        (Iceberg v2 merge-on-read): df's rows are (delete_cols) key
        tuples; `read` drops every matching row committed strictly
        before this version, without rewriting any data file."""
        assert operation in ("overwrite", "append", "delete")
        version, parent = self._next_version()
        out_dir = os.path.join(self.data_dir, f"v{version:05d}")
        extra = {}
        if operation == "delete":
            delete_cols = list(delete_cols or df.columns)
            df = df.select(*delete_cols).distinct()
            extra["delete_cols"] = delete_cols
        _write(df, out_dir, partition_cols)
        return self._record(version, parent, operation, out_dir, df.schema,
                            partition_cols, metrics_cols, lineage or {},
                            **extra)

    def _record(self, version: int, parent: int | None, operation: str,
                written: str, schema: StructType,
                partition_cols: Sequence[str], metrics_cols: Sequence[str],
                lineage: dict, **extra) -> int:
        """Write the manifest of a commit whose data files are under
        `written`, then flip the pointer to it."""
        schema = schema.jsonValue()
        partitions = _footer_partitions(written, schema, partition_cols,
                                        metrics_cols)
        manifest = {
            "version": version,
            "parent": parent,
            "operation": operation,
            "data_dir": f"v{version:05d}",
            "schema": schema,
            "partition_cols": list(partition_cols),
            "partitions": partitions,
            "total_rows": int(sum(p["row_count"] for p in partitions)),
            "lineage": lineage,
            "created_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            **extra,
        }
        with open(self._manifest_path(version), "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        self._flip_pointer(version)
        return version

    def delete_where(self, spark: SparkSession, predicate,
                     key_cols: Sequence[str],
                     lineage: dict | None = None) -> int:
        """Row-level DELETE as an equality-delete commit (merge-on-read):
        scans the current snapshot for rows matching `predicate` (a SQL
        string or Column), writes only their (key_cols) tuples — at
        100 TB a delete touches the keyset, never the table.  Returns
        the new version."""
        keys = self.read(spark).filter(predicate).select(*key_cols)
        return self.commit(keys, operation="delete", delete_cols=key_cols,
                           lineage=lineage or {"op": "delete_where"})

    def merge_upsert(self, source: DataFrame, key_cols: Sequence[str],
                     partition_cols: Sequence[str] = (),
                     metrics_cols: Sequence[str] = (),
                     lineage: dict | None = None) -> int:
        """MERGE INTO ... WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN
        INSERT, as ONE atomic snapshot: the commit dir holds
        `inserts/` (every source row) and `deletes/` (the source key
        tuples).  A read drops prior rows matching a delete key
        (strictly-earlier commits only), then sees the inserts — matched
        keys are replaced, unmatched keys are inserted, and readers can
        never observe the delete without the insert.  Cost is
        O(|source|) written bytes: the existing table is NOT rewritten
        (Iceberg's merge-on-read MERGE, not copy-on-write)."""
        version, parent = self._next_version()
        out_dir = os.path.join(self.data_dir, f"v{version:05d}")
        inserts = os.path.join(out_dir, "inserts")
        _write(source, inserts, partition_cols)
        # the keyset comes from the inserts just written, so the source
        # plan is evaluated once; a key the source repeats is written
        # repeatedly — read() collapses delete keys with max(__dver)
        keys = _scan(source.sparkSession, inserts, source.schema.jsonValue()) \
            .select(*key_cols)
        _write(keys, os.path.join(out_dir, "deletes"))
        return self._record(version, parent, "merge", inserts, source.schema,
                            partition_cols, metrics_cols,
                            lineage or {"op": "merge_upsert"},
                            delete_cols=list(key_cols),
                            delete_schema=keys.schema.jsonValue())

    def compact(self, spark: SparkSession, n_files: int,
                partition_cols: Sequence[str] = (),
                metrics_cols: Sequence[str] = ()) -> int:
        """rewrite_data_files: materialize the current snapshot as one
        fresh overwrite commit in `n_files` bin-packed files, folding in
        any accumulated equality deletes (small-file compaction + delete
        compaction in one pass).  Data-identical by construction; like
        any overwrite it resets the append chain, so incremental readers
        must re-baseline (read_changes refuses to cross it)."""
        df = self.read(spark)
        before = sum(len([f for f in files if f.endswith(".parquet")])
                     for _, _, files in os.walk(self.data_dir))
        return self.commit(df.repartition(n_files),
                           partition_cols=partition_cols,
                           metrics_cols=metrics_cols,
                           operation="overwrite",
                           lineage={"maintenance": "compaction",
                                    "files_before": before,
                                    "target_files": n_files})

    # -- read ---------------------------------------------------------------
    def _chain(self, version: int) -> list[dict]:
        """Manifests from the base overwrite up to `version`, oldest
        first.  delete/merge commits do not reset the chain (they modify
        rows of earlier commits); only an overwrite does."""
        chain = []
        v: int | None = version
        while v is not None:
            m = self.manifest(v)
            chain.append(m)
            if m["operation"] == "overwrite":
                break
            v = m.get("parent")
        return list(reversed(chain))

    def _entry_paths(self, m: dict) -> tuple[tuple | None, tuple | None]:
        """((data_path, schema), (delete_path, schema)) a manifest
        contributes to a read; None where it contributes no such side.
        A schema is None on manifests written before it was recorded."""
        base = os.path.join(self.data_dir, m["data_dir"])
        op, schema = m["operation"], m.get("schema")
        if op in ("overwrite", "append"):
            return (base, schema), None
        if op == "delete":
            return None, (base, schema)
        if op == "merge":
            return ((os.path.join(base, "inserts"), schema),
                    (os.path.join(base, "deletes"), m.get("delete_schema")))
        raise ValueError(f"unknown operation {op!r}")

    def _live_dirs(self, version: int) -> list[str]:
        """Commit dirs (roots) needed to reconstruct `version`."""
        return [os.path.join(self.data_dir, m["data_dir"])
                for m in self._chain(version)]

    def read(self, spark: SparkSession, version: int | None = None,
             where: dict | None = None) -> DataFrame:
        """Read a snapshot.  `where={col: (lo, hi)}` (closed intervals)
        prunes whole commit dirs from the scan using MANIFEST metrics
        before any file is listed — Iceberg's manifest-level skipping at
        dir granularity — and applies the same predicate row-level, so
        the result is identical with or without pruning (partition-dir
        pruning within a surviving commit dir is Catalyst's, via the
        pushed filter).  Every dir is scanned with its recorded schema,
        so building the read runs no Spark job.

        Equality deletes (delete/merge commits) apply merge-on-read: a
        row committed at version c is dropped iff some later delete
        keyset (version d > c) contains its key.  One aggregated
        left-join does it — the delete side is the union of keysets with
        max(delete version) per key, tiny next to the data and
        broadcastable at any scale."""
        v = self.current_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no committed snapshot at {self.path}")
        chain = self._chain(v)
        keep = set(self._pruned(chain, where)) if where else None
        data, dels, del_cols = [], [], None
        for m in chain:
            dside, xside = self._entry_paths(m)
            if dside is not None and (keep is None or dside[0] in keep):
                data.append((m["version"], _scan(spark, *dside)))
            if xside is not None:
                cols = list(m["delete_cols"])
                if del_cols is not None and cols != del_cols:
                    raise ValueError(
                        f"mixed equality-delete keys in one chain: "
                        f"{del_cols} vs {cols} (v{m['version']})")
                del_cols = cols
                dels.append((m["version"], _scan(spark, *xside)))
        if not data:
            # predicate pruned everything: schema-only empty frame
            first = _scan(spark, *self._entry_paths(chain[0])[0])
            return self._apply_where(first.limit(0), where)
        if not dels:
            return self._apply_where(_union([d for _, d in data]), where)

        out = _union([d.withColumn("__commit", F.lit(ver))
                      for ver, d in data])
        dk = _union([d.withColumn("__dver", F.lit(ver)) for ver, d in dels])
        dagg = dk.groupBy(*del_cols).agg(F.max("__dver").alias("__last_del"))
        out = out.join(F.broadcast(dagg), on=del_cols, how="left") \
                 .filter(F.col("__last_del").isNull()
                         | (F.col("__last_del") <= F.col("__commit"))) \
                 .drop("__commit", "__last_del")
        return self._apply_where(out, where)

    @staticmethod
    def _apply_where(df: DataFrame, where: dict | None) -> DataFrame:
        for c, (lo, hi) in (where or {}).items():
            df = df.filter((F.col(c) >= lo) & (F.col(c) <= hi))
        return df

    def pruned_dirs(self, version: int, where: dict) -> list[str]:
        """Commit dirs at `version` whose manifest says they MIGHT hold
        rows in `where` ({col: (lo, hi)}).  A dir survives if ANY of its
        partitions overlaps every bound; bounds on columns without
        recorded numeric metrics (or non-numeric mins) never prune —
        pruning is an optimization, never a filter."""
        return self._pruned(self._chain(version), where)

    def _pruned(self, chain: list[dict], where: dict) -> list[str]:
        """pruned_dirs over an already-parsed chain of manifests."""
        def overlaps(entry: dict) -> bool:
            for c, (lo, hi) in where.items():
                stats = entry.get("metrics", {}).get(c)
                vals = entry.get("values", {})
                if c in vals and isinstance(vals[c], (int, float)):
                    if not (lo <= vals[c] <= hi):
                        return False
                    continue
                if not stats:
                    continue
                mn, mx = stats.get("min"), stats.get("max")
                if not (isinstance(mn, (int, float))
                        and isinstance(mx, (int, float))):
                    continue
                if mx < lo or mn > hi:
                    return False
            return True

        out = []
        for m in chain:
            dside, _ = self._entry_paths(m)
            if dside is None:
                continue   # delete commits contribute no data rows
            if any(overlaps(p) for p in m["partitions"]) or not m["partitions"]:
                out.append(dside[0])
        return out

    def read_changes(self, spark: SparkSession, from_version: int,
                     to_version: int | None = None) -> DataFrame:
        """Iceberg-style INCREMENTAL APPEND SCAN: exactly the rows added
        AFTER `from_version`, up to and including `to_version` (default:
        current head).  Only valid across an append-only range — an
        intervening overwrite rewrote history, so (like Iceberg's
        appends-between scan) the call refuses rather than guessing."""
        to_v = self.current_version() if to_version is None else to_version
        if to_v is None or from_version > to_v:
            raise ValueError(f"bad incremental range ({from_version}, {to_v})")
        if from_version == to_v:
            return self.read(spark, to_v).limit(0)
        scans = []
        v: int | None = to_v
        while v is not None and v != from_version:
            m = self.manifest(v)
            if m["operation"] != "append":
                raise ValueError(
                    f"v{v} is a {m['operation']} inside the incremental "
                    f"range ({from_version}, {to_v}]: appends-between "
                    f"undefined when rows were rewritten or removed")
            scans.append(_scan(spark, *self._entry_paths(m)[0]))
            v = m.get("parent")
        if v != from_version:
            raise ValueError(
                f"v{from_version} is not an ancestor of v{to_v}")
        return _union(scans[::-1])

    # -- maintenance --------------------------------------------------------
    def rollback(self, version: int) -> None:
        """Atomic pointer flip back to an earlier committed snapshot.
        Later versions become orphans (still on disk, readable by
        explicit version until expire_snapshots); the next commit
        branches from here under a fresh version number."""
        if not os.path.exists(self._manifest_path(version)):
            raise FileNotFoundError(f"no snapshot v{version}")
        self._flip_pointer(version)

    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """Iceberg-style expiry: keep the newest `keep_last` snapshots of
        the CURRENT head's ancestry (the head always survives), delete
        every other manifest and any data dir no kept snapshot reaches.
        Returns the expired version numbers."""
        import shutil

        head = self.current_version()
        if head is None:
            return []
        ancestry = [m["version"] for m in self.history()]
        kept = set(ancestry[:max(1, keep_last)])
        # a kept append snapshot is reconstructed by walking its parent
        # chain to the base overwrite: every manifest (and dir) on that
        # chain must survive too
        live: set[str] = set()
        for v in list(kept):
            live.update(self._live_dirs(v))
            p: int | None = v
            while p is not None:
                m = self.manifest(p)
                kept.add(p)
                if m["operation"] == "overwrite":
                    break
                p = m.get("parent")
        expired = []
        for v in self.all_versions():
            if v in kept:
                continue
            d = os.path.join(self.data_dir, self.manifest(v)["data_dir"])
            if d not in live and os.path.exists(d):
                shutil.rmtree(d)
            os.remove(self._manifest_path(v))
            expired.append(v)
        return expired

    # -- resume -------------------------------------------------------------
    def has_step(self, step: str) -> bool:
        """True if any committed snapshot's lineage carries this step key —
        the pipeline-resume predicate."""
        return any(m.get("lineage", {}).get("step") == step
                   for m in self.history())

    def latest_step(self) -> str | None:
        v = self.current_version()
        if v is None:
            return None
        return self.manifest(v).get("lineage", {}).get("step")


def _json_safe(v):
    try:
        json.dumps(v)
        return v
    except TypeError:
        return str(v)


def _write(df: DataFrame, path: str, partition_cols: Sequence[str] = ()):
    writer = df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def _scan(spark: SparkSession, path: str, schema: dict | None) -> DataFrame:
    """One written dir, read with its recorded schema (no inference job;
    partition columns keep their declared types).  Without a recorded
    schema it falls back to inference."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(StructType.fromJson(schema))
    return reader.parquet(path)


def _union(dfs: list[DataFrame]) -> DataFrame:
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True),
                  dfs)


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _partition_value(raw: str, dtype):
    """A `col=value` directory value as the JSON value of its declared
    type; dates, timestamps and decimals stay text, as `_json_safe`
    renders them."""
    if raw == _HIVE_NULL:
        return None
    if dtype in ("byte", "short", "integer", "long"):
        return int(raw)
    if dtype in ("float", "double"):
        return float(raw)
    if dtype == "boolean":
        return raw == "true"
    return raw


def _spark_order(v):
    """Sort key matching Spark's min/max: NaN above every number."""
    return (v != v, v)


def _chunk_bounds(md, col: str):
    """(min, max) per row group of one Parquet footer for `col`, skipping
    all-NULL chunks; None for a chunk whose footer holds no bounds."""
    idx = [i for i in range(md.num_columns) if md.schema.column(i).path == col]
    for g in range(md.num_row_groups):
        chunk = md.row_group(g).column(idx[0]) if idx else None
        st = chunk.statistics if chunk is not None else None
        if st is not None and st.has_null_count \
                and st.null_count == chunk.num_values:
            continue
        yield (st.min, st.max) if st is not None and st.has_min_max else None


def _footer_partitions(out_dir: str, schema: dict,
                       partition_cols: Sequence[str],
                       metrics_cols: Sequence[str]) -> list[dict]:
    """Manifest `partitions` of a written dir from its Parquet footers:
    per partition dir (values parsed from `col=value` names, typed by
    the written schema) the row count and each metric's min/max, merged
    over every non-empty file's row groups."""
    types = {f["name"]: f["type"] for f in schema["fields"]}
    missing = [c for c in metrics_cols if c not in types]
    if missing:
        raise ValueError(f"metrics columns {missing} not in the written data")
    parts: dict[str, dict] = {}
    for root, dirs, files in os.walk(out_dir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for name in files:
            if name.startswith(("_", ".")) or not name.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(root, name))
            if md.num_rows == 0:
                continue
            rel = os.path.relpath(root, out_dir)
            p = parts.get(rel)
            if p is None:
                raw = dict(x.split("=", 1) for x in rel.split(os.sep)) \
                    if rel != "." else {}
                values = {unquote(k): unquote(v) for k, v in raw.items()}
                p = parts[rel] = {
                    "values": {c: _partition_value(values[c], types[c])
                               for c in partition_cols},
                    "rows": 0, "bounds": {c: [] for c in metrics_cols}}
            p["rows"] += md.num_rows
            for c in metrics_cols:
                p["bounds"][c] += _chunk_bounds(md, c)
    out = []
    for rel in sorted(parts):
        p = parts[rel]
        metrics = {}
        for c, chunks in p["bounds"].items():
            if not chunks or None in chunks:
                metrics[c] = {"min": None, "max": None}
            else:
                metrics[c] = {
                    "min": _json_safe(min((b[0] for b in chunks),
                                          key=_spark_order)),
                    "max": _json_safe(max((b[1] for b in chunks),
                                          key=_spark_order))}
        out.append({"values": p["values"], "row_count": p["rows"],
                    "metrics": metrics})
    return out


def run_resumable(table: SnapshotTable, steps: list[tuple[str, callable]],
                  partition_cols: Sequence[str] = (),
                  metrics_cols: Sequence[str] = ()) -> list[str]:
    """Execute a pipeline of (step_name, fn() -> DataFrame) with snapshot
    checkpoints; steps whose snapshot already exists are skipped. Returns
    the list of steps actually executed this run."""
    ran = []
    for step, fn in steps:
        if table.has_step(step):
            continue
        df = fn()
        table.commit(df, partition_cols=partition_cols,
                     metrics_cols=metrics_cols,
                     operation="overwrite",
                     lineage={"step": step})
        ran.append(step)
    return ran


def refresh_incremental_agg(src: SnapshotTable, agg: SnapshotTable,
                            spark: SparkSession, keys: Sequence[str],
                            sum_cols: Sequence[str]) -> int | None:
    """Incremental materialized-view maintenance: keep `agg` = GROUP BY
    `keys` with per-key row count + SUM(sum_cols) over `src`, touching
    only the rows appended since the last refresh.

    The algebra: counts and sums are commutative monoids, so
    agg(new) = agg(old) merged-by-addition with agg(delta).  The delta
    comes from src.read_changes (Iceberg incremental append scan), the
    merge lands through agg.merge_upsert — ONE atomic snapshot whose
    manifest lineage records the src version consumed, which is also the
    resume cursor (a crashed refresh reruns idempotently from the last
    recorded cursor).  Cost per refresh is O(|delta| + |changed keys|),
    never a rescan of src — the 100 TB continuous-ingest shape.

    Returns the new agg version, or None when src has nothing new.
    Refuses (ValueError, from read_changes) if src was overwritten or
    had row-level deletes since the cursor — a non-append change breaks
    the delta algebra, so the caller must rebuild (drop agg, refresh)."""
    keys = list(keys)
    head = src.current_version()
    if head is None:
        return None
    cursor = None
    if agg.current_version() is not None:
        cursor = agg.manifest().get("lineage", {}).get("src_version")
    if cursor == head:
        return None
    delta = (src.read(spark) if cursor is None
             else src.read_changes(spark, cursor, head))
    d = delta.groupBy(*keys).agg(
        F.count("*").alias("n_rows"),
        *[F.sum(c).alias(f"sum_{c}") for c in sum_cols])
    meas = ["n_rows"] + [f"sum_{c}" for c in sum_cols]
    if cursor is None:
        agg.commit(d, operation="overwrite",
                   lineage={"src_version": head, "op": "ivm_full"})
        return agg.current_version()
    cur = agg.read(spark)
    # only keys present in the delta change; merge-by-addition on those
    merged = (d.alias("d")
               .join(cur.alias("c"), keys, "left")
               .select(*[F.col(f"d.{k}").alias(k) for k in keys],
                       *[(F.col(f"d.{m}")
                          + F.coalesce(F.col(f"c.{m}"), F.lit(0)))
                         .alias(m) for m in meas]))
    return agg.merge_upsert(merged, key_cols=keys,
                            lineage={"src_version": head,
                                     "op": "ivm_incremental"})


def table_diff(spark: SparkSession, left: DataFrame, right: DataFrame,
               key_cols: Sequence[str]) -> DataFrame:
    """Data-diff audit between two relation versions (two snapshot
    reads, a table before/after a backfill, source vs migrated copy):
    one FULL OUTER join on the key, classifying every key as 'added'
    (right only), 'deleted' (left only), 'changed' (present in both,
    any non-key column differs — NULL-safe comparison) or 'same'.
    Returns ONE summary row per status + per-column change counts for
    the changed rows (n_changed_<col>), all exact integers.

    The per-key classification is the expensive part — one
    co-partitioned shuffle join; the summary is a tiny aggregate.
    Column sets must match (asserted).  Keys must be UNIQUE per side
    (ADVICE r5): duplicates would multiply rows through the full-outer
    join and silently inflate every count — enforced in-plan via the
    aggregated presence frames (no extra job; a duplicate key fails the
    query deterministically)."""
    assert set(left.columns) == set(right.columns), "schema mismatch"
    vals = [c for c in left.columns if c not in key_cols]
    # presence must come from the join sides, not value nullability:
    # join key-only AGGREGATED presence frames alongside the values —
    # the per-key count both marks presence and guards uniqueness
    def _presence(df, tag):
        n = F.col(f"_n_{tag}")
        guard = F.when(n > 1, F.raise_error(F.lit(
            f"table_diff: duplicate key on the {tag} side — results "
            f"would be silently inflated; dedupe or widen key_cols"))
            .cast("int")).otherwise(F.lit(1))
        return (df.groupBy(*key_cols)
                  .agg(F.count("*").alias(f"_n_{tag}"))
                  .select(*key_cols, guard.alias(f"_in_{tag[0]}")))

    lk = _presence(left, "left")
    rk = _presence(right, "right")
    j = (left.select(*key_cols,
                     *[F.col(c).alias(f"_l_{c}") for c in vals])
             .join(right.select(*key_cols,
                                *[F.col(c).alias(f"_r_{c}") for c in vals]),
                   list(key_cols), "full_outer")
             .join(lk, list(key_cols), "left")
             .join(rk, list(key_cols), "left"))
    diffs = [(~F.col(f"_l_{c}").eqNullSafe(F.col(f"_r_{c}")))
             .cast("long").alias(f"_d_{c}") for c in vals]
    any_diff = None
    for c in vals:
        d = ~F.col(f"_l_{c}").eqNullSafe(F.col(f"_r_{c}"))
        any_diff = d if any_diff is None else (any_diff | d)
    status = (F.when(F.col("_in_l").isNull(), "added")
               .when(F.col("_in_r").isNull(), "deleted")
               .when(any_diff if any_diff is not None else F.lit(False),
                     "changed")
               .otherwise("same"))
    tagged = j.select(status.alias("status"), *diffs)
    return tagged.groupBy("status").agg(
        F.count("*").cast("long").alias("n_keys"),
        *[F.sum(F.when(F.col("status") == "changed", F.col(f"_d_{c}"))
                 .otherwise(0)).cast("long").alias(f"n_changed_{c}")
          for c in vals])
