"""Snapshot table layer: atomic commits, per-partition lineage+metrics,
append/overwrite chains, time travel, and pipeline resume."""

import datetime
import json
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from data_cube_utilities_spark.sources.snapshots import SnapshotTable, run_resumable


@pytest.fixture()
def table(tmp_path):
    return SnapshotTable(str(tmp_path / "tbl"))


def _df(spark, lo, hi, part):
    pdf = pd.DataFrame({"id": range(lo, hi), "part": part,
                        "v": [float(i) for i in range(lo, hi)]})
    return spark.createDataFrame(pdf)


def test_commit_read_roundtrip(spark, table):
    v = table.commit(_df(spark, 0, 10, "a"), partition_cols=["part"],
                     metrics_cols=["v"], lineage={"step": "load"})
    assert v == 0 and table.current_version() == 0
    back = table.read(spark)
    assert back.count() == 10
    m = table.manifest()
    assert m["total_rows"] == 10
    assert m["partitions"][0]["values"] == {"part": "a"}
    assert m["partitions"][0]["metrics"]["v"] == {"min": 0.0, "max": 9.0}
    assert m["lineage"]["step"] == "load"


def test_append_chain_and_time_travel(spark, table):
    table.commit(_df(spark, 0, 10, "a"), ["part"], operation="overwrite")
    table.commit(_df(spark, 10, 15, "b"), ["part"], operation="append")
    assert table.read(spark).count() == 15
    assert table.read(spark, version=0).count() == 10  # time travel
    # overwrite resets visibility
    table.commit(_df(spark, 0, 3, "c"), ["part"], operation="overwrite")
    assert table.read(spark).count() == 3
    assert [m["version"] for m in table.history()] == [2, 1, 0]


def test_pointer_is_atomic_and_late(spark, table, tmp_path):
    # before any commit: no VERSION file, read raises
    assert table.current_version() is None
    with pytest.raises(FileNotFoundError):
        table.read(spark)
    table.commit(_df(spark, 0, 5, "a"), ["part"])
    # a stale tmp pointer must never shadow the committed one
    assert not os.path.exists(table._version_file + ".tmp")


def test_resume_skips_done_steps(spark, table):
    calls = []

    def mk(name, lo, hi):
        def fn():
            calls.append(name)
            return _df(spark, lo, hi, name)
        return (name, fn)

    steps = [mk("s1", 0, 5), mk("s2", 5, 9)]
    ran = run_resumable(table, steps, partition_cols=["part"])
    assert ran == ["s1", "s2"] and calls == ["s1", "s2"]
    # second invocation: everything checkpointed, nothing re-runs
    calls.clear()
    ran2 = run_resumable(table, steps, partition_cols=["part"])
    assert ran2 == [] and calls == []
    # new step resumes from where the pipeline stopped
    steps.append(mk("s3", 9, 12))
    ran3 = run_resumable(table, steps, partition_cols=["part"])
    assert ran3 == ["s3"] and calls == ["s3"]
    assert table.latest_step() == "s3"


def test_manifest_json_is_valid(spark, table):
    table.commit(_df(spark, 0, 4, "a"), ["part"], metrics_cols=["v"])
    with open(table._manifest_path(0)) as f:
        m = json.load(f)
    assert set(m) >= {"version", "parent", "operation", "partitions",
                      "lineage", "created_utc", "total_rows"}


def test_incremental_append_scan(spark, table):
    table.commit(_df(spark, 0, 10, "a"), ["part"])                    # v0
    table.commit(_df(spark, 10, 15, "b"), ["part"], operation="append")  # v1
    table.commit(_df(spark, 15, 17, "c"), ["part"], operation="append")  # v2
    assert sorted(r.id for r in
                  table.read_changes(spark, 0).collect()) == list(range(10, 17))
    assert sorted(r.id for r in
                  table.read_changes(spark, 0, 1).collect()) == list(range(10, 15))
    assert sorted(r.id for r in
                  table.read_changes(spark, 1, 2).collect()) == [15, 16]
    assert table.read_changes(spark, 2, 2).count() == 0
    # an overwrite inside the range is refused, like Iceberg
    table.commit(_df(spark, 0, 3, "d"), ["part"], operation="overwrite")  # v3
    with pytest.raises(ValueError, match="overwrite"):
        table.read_changes(spark, 2, 3)
    # and appends after the overwrite scan fine again
    table.commit(_df(spark, 3, 5, "e"), ["part"], operation="append")     # v4
    assert sorted(r.id for r in
                  table.read_changes(spark, 3, 4).collect()) == [3, 4]


def test_rollback_branches_without_clobbering(spark, table):
    table.commit(_df(spark, 0, 10, "a"), ["part"])                    # v0
    table.commit(_df(spark, 10, 15, "b"), ["part"], operation="append")  # v1
    table.commit(_df(spark, 15, 20, "c"), ["part"], operation="append")  # v2
    table.rollback(1)
    assert table.current_version() == 1
    assert table.read(spark).count() == 15
    # orphan v2 still time-travels until expiry
    assert table.read(spark, version=2).count() == 20
    # next commit branches as v3 with parent 1 — v2 untouched
    v = table.commit(_df(spark, 50, 52, "d"), ["part"], operation="append")
    assert v == 3 and table.manifest(3)["parent"] == 1
    assert table.read(spark).count() == 17
    assert table.read(spark, version=2).count() == 20


def test_expire_snapshots_drops_orphans_keeps_chain(spark, table):
    table.commit(_df(spark, 0, 10, "a"), ["part"])                    # v0
    table.commit(_df(spark, 10, 15, "b"), ["part"], operation="append")  # v1
    table.commit(_df(spark, 15, 20, "c"), ["part"], operation="append")  # v2
    table.rollback(1)
    table.commit(_df(spark, 50, 52, "d"), ["part"], operation="append")  # v3
    expired = table.expire_snapshots(keep_last=1)
    # head v3's chain is v3->v1->v0: all kept even at keep_last=1;
    # only the orphan v2 expires
    assert expired == [2]
    assert not os.path.exists(os.path.join(table.data_dir, "v00002"))
    assert table.read(spark).count() == 17
    assert table.read(spark, version=0).count() == 10
    with pytest.raises(FileNotFoundError):
        table.manifest(2)


def test_manifest_metrics_prune_scan(spark, table):
    table.commit(_df(spark, 0, 10, "a"), ["part"], metrics_cols=["v"])
    table.commit(_df(spark, 100, 110, "b"), ["part"], operation="append",
                 metrics_cols=["v"])
    table.commit(_df(spark, 200, 210, "c"), ["part"], operation="append",
                 metrics_cols=["v"])
    # bounds inside the middle commit only -> one dir survives pruning
    dirs = table.pruned_dirs(2, {"v": (101.0, 105.0)})
    assert len(dirs) == 1 and dirs[0].endswith("v00001")
    out = table.read(spark, where={"v": (101.0, 105.0)})
    assert sorted(r.id for r in out.collect()) == list(range(101, 106))
    # a column with no recorded metrics never prunes (only filters)
    assert len(table.pruned_dirs(2, {"id": (0, 1)})) == 3
    out2 = table.read(spark, where={"id": (0, 1)})
    assert out2.count() == 2
    # predicate matching nothing still returns a well-formed empty result
    assert table.read(spark, where={"v": (1e9, 2e9)}).count() == 0


# -- row-level semantics: equality deletes, merge, compaction (r5) ----------

def test_equality_delete_merge_on_read(spark, table):
    table.commit(_df(spark, 0, 10, "a"), ["part"], operation="overwrite")
    table.commit(_df(spark, 10, 15, "b"), ["part"], operation="append")
    v_del = table.delete_where(spark, "id % 3 = 0", key_cols=["id"])
    back = sorted(r["id"] for r in table.read(spark).collect())
    assert back == [i for i in range(15) if i % 3 != 0]
    # merge-on-read: no data dir was rewritten — the delete commit holds
    # only the keyset
    keyset = spark.read.parquet(
        os.path.join(table.data_dir, f"v{v_del:05d}"))
    assert sorted(r["id"] for r in keyset.collect()) == [0, 3, 6, 9, 12]
    assert keyset.columns == ["id"]
    # time travel still sees the pre-delete snapshot
    assert table.read(spark, version=1).count() == 15


def test_rows_appended_after_delete_survive_it(spark, table):
    table.commit(_df(spark, 0, 10, "a"), ["part"], operation="overwrite")
    table.delete_where(spark, "id >= 0", key_cols=["id"])   # delete all
    assert table.read(spark).count() == 0
    # re-append some of the same keys AFTER the delete: they must be
    # visible (the delete applies to strictly-earlier commits only)
    table.commit(_df(spark, 0, 4, "a"), ["part"], operation="append")
    assert sorted(r["id"] for r in table.read(spark).collect()) == [0, 1, 2, 3]


def test_merge_upsert_updates_and_inserts_atomically(spark, table):
    table.commit(_df(spark, 0, 10, "a"), ["part"], operation="overwrite")
    src = _df(spark, 5, 12, "b").withColumn("v", F.col("v") * 10)
    v = table.merge_upsert(src, key_cols=["id"])
    rows = {r["id"]: (r["v"], r["part"]) for r in table.read(spark).collect()}
    assert set(rows) == set(range(12))
    for i in range(5):                      # untouched
        assert rows[i] == (float(i), "a")
    for i in range(5, 12):                  # updated (5-9) + inserted (10-11)
        assert rows[i] == (float(i) * 10, "b")
    m = table.manifest(v)
    assert m["operation"] == "merge" and m["delete_cols"] == ["id"]
    # merged rows are NOT deleted by their own merge's keyset
    assert table.read(spark).filter("id = 5").count() == 1


def test_delete_then_merge_reinserts_key(spark, table):
    table.commit(_df(spark, 0, 6, "a"), operation="overwrite")
    table.delete_where(spark, "id = 2", key_cols=["id"])
    assert table.read(spark).filter("id = 2").count() == 0
    table.merge_upsert(_df(spark, 2, 3, "z"), key_cols=["id"])
    got = table.read(spark).filter("id = 2").collect()
    assert len(got) == 1 and got[0]["part"] == "z"


def test_read_changes_refuses_delete_and_merge(spark, table):
    table.commit(_df(spark, 0, 5, "a"), operation="overwrite")
    table.commit(_df(spark, 5, 8, "a"), operation="append")
    table.delete_where(spark, "id = 1", key_cols=["id"])
    with pytest.raises(ValueError, match="delete"):
        table.read_changes(spark, 0)
    # but a range that stops before the delete still works
    assert sorted(r["id"] for r in
                  table.read_changes(spark, 0, 1).collect()) == [5, 6, 7]


def test_compact_folds_deletes_and_is_data_identical(spark, table):
    table.commit(_df(spark, 0, 10, "a"), ["part"], operation="overwrite")
    table.commit(_df(spark, 10, 20, "b"), ["part"], operation="append")
    table.delete_where(spark, "id % 2 = 0", key_cols=["id"])
    before = sorted((r["id"], r["v"]) for r in table.read(spark).collect())
    v = table.compact(spark, n_files=2)
    after = sorted((r["id"], r["v"]) for r in table.read(spark).collect())
    assert before == after
    m = table.manifest(v)
    assert m["operation"] == "overwrite"
    assert m["lineage"]["maintenance"] == "compaction"
    assert m["lineage"]["files_before"] >= 3
    # compaction resets the chain: one live commit dir, read scans it alone
    assert len(table._live_dirs(v)) == 1
    # incremental reads re-baseline from the compaction
    table.commit(_df(spark, 50, 52, "c"), ["part"], operation="append")
    assert sorted(r["id"] for r in
                  table.read_changes(spark, v).collect()) == [50, 51]


def test_manifest_pruning_skips_deleted_era_dirs(spark, table):
    table.commit(_df(spark, 0, 10, "a"), ["part"], metrics_cols=["id"],
                 operation="overwrite")
    table.commit(_df(spark, 100, 110, "b"), ["part"], metrics_cols=["id"],
                 operation="append")
    table.delete_where(spark, "id = 105", key_cols=["id"])
    # pruning on id keeps only the second data dir; the delete still applies
    got = sorted(r["id"] for r in
                 table.read(spark, where={"id": (100, 120)}).collect())
    assert got == [i for i in range(100, 110) if i != 105]
    assert len(table.pruned_dirs(table.current_version(),
                                 {"id": (100, 120)})) == 1


def test_expire_keeps_merge_and_delete_dirs_of_live_chain(spark, table):
    table.commit(_df(spark, 0, 5, "a"), operation="overwrite")     # v0
    table.delete_where(spark, "id = 0", key_cols=["id"])           # v1
    table.merge_upsert(_df(spark, 3, 7, "m"), key_cols=["id"])     # v2
    expired = table.expire_snapshots(keep_last=1)
    assert expired == []    # whole chain needed to rebuild the head
    got = sorted(r["id"] for r in table.read(spark).collect())
    assert got == [1, 2, 3, 4, 5, 6]


def test_refresh_incremental_agg_equals_full_recompute(spark, tmp_path):
    from data_cube_utilities_spark.sources.snapshots import (
        refresh_incremental_agg)

    src = SnapshotTable(str(tmp_path / "src"))
    agg = SnapshotTable(str(tmp_path / "agg"))

    def chunk(lo, hi):
        pdf = pd.DataFrame({"k": [i % 5 for i in range(lo, hi)],
                            "v": list(range(lo, hi))})
        return spark.createDataFrame(pdf)

    # empty src -> no-op
    assert refresh_incremental_agg(src, agg, spark, ["k"], ["v"]) is None

    src.commit(chunk(0, 40), operation="overwrite")
    v1 = refresh_incremental_agg(src, agg, spark, ["k"], ["v"])
    assert v1 is not None
    # idempotent: nothing new -> None, version unchanged
    assert refresh_incremental_agg(src, agg, spark, ["k"], ["v"]) is None
    assert agg.current_version() == v1

    src.commit(chunk(40, 70), operation="append")
    src.commit(chunk(70, 100), operation="append")
    refresh_incremental_agg(src, agg, spark, ["k"], ["v"])

    got = {r["k"]: (r["n_rows"], r["sum_v"])
           for r in agg.read(spark).collect()}
    exp = {}
    for i in range(100):
        n, s = exp.get(i % 5, (0, 0))
        exp[i % 5] = (n + 1, s + i)
    assert got == exp
    # the cursor in lineage tracks the consumed src version
    assert agg.manifest()["lineage"]["src_version"] == src.current_version()

    # a row-level delete on src breaks the append-only delta algebra:
    # the next refresh must refuse, not silently corrupt the view
    src.delete_where(spark, "v = 3", key_cols=["k", "v"])
    with pytest.raises(ValueError):
        refresh_incremental_agg(src, agg, spark, ["k"], ["v"])


# -- planning from manifests: recorded schema, footer metrics, job counts ---

def _jobs(spark, call):
    """(call(), number of Spark jobs the call ran)."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    sc.setJobGroup("snapshots-jobs", "count jobs", False)
    try:
        bus.waitUntilEmpty()
        before = set(sc.statusTracker().getJobIdsForGroup("snapshots-jobs"))
        out = call()
        bus.waitUntilEmpty()
        after = set(sc.statusTracker().getJobIdsForGroup("snapshots-jobs"))
    finally:
        sc.setJobGroup(None, None, False)
    return out, len(after - before)


def _aggregate_partitions(spark, table, version, partition_cols, metrics_cols):
    """Reference: the per-partition stats as ONE grouped aggregate over the
    written data (how commits computed them before footers did), read
    with the recorded schema."""
    from data_cube_utilities_spark.sources.snapshots import _json_safe

    m = table.manifest(version)
    written = spark.read.schema(StructType.fromJson(m["schema"])) \
        .parquet(os.path.join(table.data_dir, m["data_dir"]))
    aggs = [F.count("*").alias("__rows")]
    for c in metrics_cols:
        aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
    stats = (written.groupBy(*partition_cols) if partition_cols
             else written).agg(*aggs).collect()
    return [{"values": {c: _json_safe(r[c]) for c in partition_cols},
             "row_count": r["__rows"],
             "metrics": {c: {"min": _json_safe(r[f"__min_{c}"]),
                             "max": _json_safe(r[f"__max_{c}"])}
                         for c in metrics_cols}} for r in stats]


def _canon(partitions):
    return sorted(json.dumps(p, sort_keys=True) for p in partitions)


def test_partition_columns_keep_declared_types(spark, table):
    df = spark.createDataFrame(
        [("007", 1, 1.0), ("010", 2, 2.0), ("010", 3, 3.0)],
        "code string, big long, v double")
    table.commit(df, ["code", "big"], metrics_cols=["v"])
    back = table.read(spark)
    types = dict(back.dtypes)
    assert types["code"] == "string" and types["big"] == "bigint"
    assert sorted((r["code"], r["big"]) for r in back.collect()) == [
        ("007", 1), ("010", 2), ("010", 3)]
    parts = table.manifest()["partitions"]
    assert sorted(p["values"]["code"] for p in parts) == ["007", "010", "010"]


def test_footer_metrics_equal_grouped_aggregate(spark, table):
    rng = np.random.default_rng(20261018)
    strs = ["007", "010", "a/b c:d", None]
    days = [datetime.date(2020, 1, 1), datetime.date(2021, 6, 30)]
    rows = []
    for i in range(600):
        s = strs[rng.integers(4)]
        rows.append((
            int(rng.integers(3)), 10**10 + int(rng.integers(2)), s,
            days[rng.integers(2)],
            None if rng.random() < 0.1 else int(rng.integers(-10**12, 10**12)),
            # all NULL in every "010" partition
            None if s == "010" else float(rng.normal()) * 1e3,
            f"s{int(rng.integers(10**6)):06d}",
            days[0] + datetime.timedelta(days=int(rng.integers(3650)))))
    df = spark.createDataFrame(
        rows, "p_int int, p_long long, p_str string, p_date date, "
              "m_long long, m_dbl double, m_str string, m_date date")
    metrics = ["m_long", "m_dbl", "m_str", "m_date"]
    for k, pcols in enumerate([["p_int", "p_str"], ["p_long", "p_date"], [],
                               ["p_str"]]):
        # several tasks write into every partition: several files each
        v = table.commit(df.repartition(3), pcols, metrics_cols=metrics,
                         operation="append" if k else "overwrite")
        m = table.manifest(v)
        ref = _aggregate_partitions(spark, table, v, pcols, metrics)
        assert _canon(m["partitions"]) == _canon(ref), pcols
        assert m["total_rows"] == 600
    nulls = [p for p in table.manifest()["partitions"]
             if p["values"]["p_str"] == "010"]
    assert nulls and nulls[0]["metrics"]["m_dbl"] == {"min": None, "max": None}
    assert {p["values"]["p_str"] for p in table.manifest()["partitions"]} \
        == {"007", "010", "a/b c:d", None}
    # a zero-row commit records no partitions, and the chain still reads
    v = table.commit(df.limit(0), ["p_int"], metrics_cols=metrics,
                     operation="append")
    assert table.manifest(v)["partitions"] == []
    assert table.manifest(v)["total_rows"] == 0
    assert table.read(spark).count() == 4 * 600


def test_nan_metric_rows_under_where_identical(spark, table):
    rng = np.random.default_rng(11)
    for k in range(4):
        vals = [float(x) for x in rng.uniform(10 * k, 10 * k + 9, 40)]
        if k % 2:
            vals[::7] = [float("nan")] * len(vals[::7])
        pdf = pd.DataFrame({"id": range(40 * k, 40 * k + 40), "x": vals,
                            "part": [i % 3 for i in range(40)]})
        table.commit(spark.createDataFrame(pdf).repartition(2), ["part"],
                     metrics_cols=["x"],
                     operation="append" if k else "overwrite")
    full = table.read(spark)
    for lo, hi in [(12.0, 15.0), (0.0, 9.0), (25.0, 45.0), (float("nan"),) * 2,
                   (5.0, float("nan")), (-1.0, float("inf"))]:
        got = sorted(map(repr, table.read(spark, where={"x": (lo, hi)})
                         .collect()))
        want = sorted(map(repr, SnapshotTable._apply_where(
            full, {"x": (lo, hi)}).collect()))
        assert got == want, (lo, hi)
    assert len(table.pruned_dirs(3, {"x": (12.0, 15.0)})) == 1


def test_commit_of_partitioned_frame_runs_one_job(spark, table):
    df = spark.range(0, 1000, 1, 4).select(
        "id", (F.col("id") % 5).alias("part"), (F.col("id") * 0.5).alias("v"))
    v, n = _jobs(spark, lambda: table.commit(df, ["part"], metrics_cols=["v"]))
    assert n == 1
    assert table.manifest(v)["total_rows"] == 1000


def test_read_plans_without_jobs(spark, table):
    table.commit(_df(spark, 0, 10, "a"), ["part"], metrics_cols=["v"])
    table.commit(_df(spark, 10, 20, "b"), ["part"], operation="append",
                 metrics_cols=["v"])
    table.delete_where(spark, "id % 4 = 0", key_cols=["id"])
    table.merge_upsert(_df(spark, 15, 25, "m"), key_cols=["id"])
    out, n = _jobs(spark, lambda: table.read(spark))
    assert n == 0
    _, n = _jobs(spark, lambda: table.read(spark, where={"v": (3.0, 12.0)}))
    assert n == 0
    want = [i for i in range(15) if i % 4] + list(range(15, 25))
    assert sorted(r["id"] for r in out.collect()) == want


def test_merge_upsert_evaluates_source_once(spark, table):
    table.commit(_df(spark, 0, 10, "a"), operation="overwrite")
    evaluated = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def tick(i):
        evaluated.add(1)
        return i

    src = spark.range(5, 25, 1, 2).select(tick("id").alias("id"),
                                          F.lit("m").alias("part"),
                                          (F.col("id") * 10.0).alias("v"))
    table.merge_upsert(src, key_cols=["id"])
    assert evaluated.value == 20
    rows = {r["id"]: r["part"] for r in table.read(spark).collect()}
    assert rows == {**{i: "a" for i in range(5)},
                    **{i: "m" for i in range(5, 25)}}


def test_merge_upsert_runs_two_jobs(spark, table):
    """A merge writes the inserts (1 job) and the keyset read back from
    them (1 job): no distinct shuffle — read() collapses repeated delete
    keys itself."""
    table.commit(_df(spark, 0, 10, "a"), operation="overwrite")
    _, n = _jobs(spark, lambda: table.merge_upsert(
        _df(spark, 5, 12, "m"), key_cols=["id"]))
    assert n == 2


def test_merge_upsert_with_repeated_source_keys(spark, table):
    """A source that repeats a key: every source row is inserted, every
    older row with that key is dropped, and a later merge of the same
    key replaces both inserted rows."""
    table.commit(_df(spark, 0, 6, "a"), operation="overwrite")
    src = _df(spark, 3, 8, "m").union(_df(spark, 4, 6, "n"))
    table.merge_upsert(src, key_cols=["id"])
    got = sorted(tuple(r) for r in table.read(spark).collect())
    want = sorted([(i, "a", float(i)) for i in range(3)]
                  + [(i, "m", float(i)) for i in range(3, 8)]
                  + [(i, "n", float(i)) for i in range(4, 6)])
    assert got == want
    table.merge_upsert(_df(spark, 5, 6, "z"), key_cols=["id"])
    got = sorted(tuple(r) for r in table.read(spark).collect())
    assert got == sorted([w for w in want if w[0] != 5] + [(5, "z", 5.0)])


def test_manifest_without_schema_still_reads(spark, table):
    table.commit(_df(spark, 0, 10, "a"), ["part"], metrics_cols=["v"])
    table.commit(_df(spark, 10, 20, "b"), ["part"], operation="append")
    table.delete_where(spark, "id = 3", key_cols=["id"])
    table.merge_upsert(_df(spark, 18, 22, "m"), key_cols=["id"])
    want = sorted(tuple(r) for r in table.read(spark).collect())
    for v in table.all_versions():
        path = table._manifest_path(v)
        with open(path) as f:
            m = json.load(f)
        m.pop("schema"), m.pop("delete_schema", None)
        with open(path, "w") as f:
            json.dump(m, f)
    assert sorted(tuple(r) for r in table.read(spark).collect()) == want
    assert sorted(r["id"] for r in table.read_changes(spark, 0, 1)
                  .collect()) == list(range(10, 20))
