"""registry_queries: the 21 bench.py HEADLINE registry queries over the
sf0.001 tables shipped in perfbench/data, in a seed-shuffled order.

One operation is one query as an interactive user runs it: build the
DataFrame (which may run eager jobs) and collect the result with toPandas.
A run makes one pass, the first execution of each query in a session the
set-ups have warmed; each result is compared with the query's oracle_sql()
on DuckDB outside the timing (the oracle results depend only on the data
on disk, so they are computed once per checkout and cached under .work). A traced run first makes that pass untimed,
then times each query traced and untraced, in alternating order, on the
warm session."""

from __future__ import annotations

import os
import random

import stats
import tracing
from catalog import HEADLINE, MODULES
from harness import Context, Loop, modes

DATA = "sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


class Registry:
    name = "registry_queries"

    def __init__(self):
        self.sf_dir = None
        self.order: list[str] = []
        self.reg = None

    def prepare(self, ctx: Context) -> None:
        from data_cube_utilities_spark import queries

        self.sf_dir = os.path.join(ctx.root, "perfbench", "data", DATA)
        self.reg = queries.registry()
        self.order = list(HEADLINE)
        random.Random(ctx.seed).shuffle(self.order)

    def warm(self, ctx: Context) -> None:
        _noop(self.reg["pricing_summary"][0](ctx.spark, self.sf_dir))

    def warm_traced(self, ctx: Context) -> None:
        for name in self.order:
            _noop(self.reg[name][0](ctx.spark, self.sf_dir))

    def check(self, ctx: Context, lp: Loop) -> None:
        """Results are checked as the loop collects them (see `loop`)."""

    def _oracles(self, ctx: Context) -> dict:
        """Every query's oracle_sql() result on DuckDB, cached per checkout
        and oracle text."""
        import hashlib
        import pickle

        key = hashlib.sha256(repr([(n, self.reg[n][1]) for n in HEADLINE])
                             .encode()).hexdigest()[:16]
        path = os.path.join(ctx.cache, f"oracles-{DATA}-{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.sf_dir}/{t}.parquet'")
            out = {n: con.execute(self.reg[n][1]).fetchdf() for n in HEADLINE}
        finally:
            con.close()
        with open(path + ".tmp", "wb") as f:
            pickle.dump(out, f)
        os.replace(path + ".tmp", path)
        return out

    def _query(self, ctx: Context, name: str):
        spark, tr = ctx.spark, ctx.tracer
        with tr.span(f"query.{name}"):
            with tr.span("queries.build"):
                df = self.reg[name][0](spark, self.sf_dir)
            if tr.enabled:
                with tr.span("queries.plan"):
                    df._jdf.queryExecution().executedPlan()
            with tr.span("queries.exec"):
                return df.toPandas()

    def loop(self, ctx: Context, lp: Loop, seconds: float) -> dict:
        """One pass over the queries; `seconds` does not apply, a pass is
        the unit of work."""
        from check_oracles import compare

        restore = None
        if ctx.trace:
            from data_cube_utilities_spark import cells
            from data_cube_utilities_spark.operators import (
                mosaic, spatial, temporal, textops)

            restore = tracing.instrument(ctx.tracer, {
                "textops": textops, "spatial": spatial, "temporal": temporal,
                "mosaic": mosaic, "cells": cells})
        s = {key: {n: [] for n in self.order}
             for key in ("walls", "cpus", "walls_traced", "cpus_traced")}
        oracles = self._oracles(ctx)
        try:
            for k, name in enumerate(self.order):
                for on in modes(ctx, lp, k):
                    ctx.tracer.op = k
                    r = lp.run(self._query, ctx, name)
                    if r is None:
                        continue
                    err = compare(r[0], oracles[name])
                    if err:
                        lp.reject(f"{name}: {err}")
                        continue
                    sfx = "_traced" if on else ""
                    s["walls" + sfx][name].append(r[1])
                    s["cpus" + sfx][name].append(r[2])
        finally:
            if restore:
                restore()
        return s

    @staticmethod
    def _medians(d: dict) -> dict:
        return {n: stats.median(v) for n, v in d.items() if v}

    def e2e(self, s: dict, traced: bool = False) -> dict:
        sfx = "_traced" if traced else ""
        return {"wall_s": sum(self._medians(s["walls" + sfx]).values()),
                "busy_cpu_s": sum(self._medians(s["cpus" + sfx]).values())}

    def report(self, s: dict) -> list[str]:
        med = self._medians(s["walls"])
        n = min(len(v) for v in s["walls"].values())
        lines = [f"query_suite_s: {sum(med.values()):.6g} s"
                 f" (sum of {len(med)} per-query medians, n={n} each)",
                 f"query_geomean_s: {stats.geomean(med.values()):.6g} s"
                 f" (geomean of {len(med)} per-query medians, n={n} each)"]
        if len(med) < len(s["walls"]):
            lines.append(f"queries without a correct result: "
                         f"{sorted(set(s['walls']) - set(med))}")
        lines += [stats.fmt_summary(f"query.{q}.wall_s", "s", v)
                  for q, v in s["walls"].items() if v]
        return lines

    def layer_metrics(self, samples: dict, spans, totals) -> dict:
        by_id = {s["id"]: s for s in spans}

        def dur(s):
            return s["end"] - s["start"]

        def query_of(s):
            while s is not None and not s["name"].startswith("query."):
                s = by_id.get(s["parent"])
            return s["name"][len("query."):] if s else None

        out = {}
        per_q: dict[str, dict[str, list]] = {}
        for s in spans:
            if s["name"].startswith("query."):
                d = per_q.setdefault(s["name"][6:], {"wall": [], "jobs": []})
                d["wall"].append(dur(s))
                d["jobs"].append(totals[s["id"]]["jobs"])
        for q in HEADLINE:
            d = per_q.get(q)
            out[f"query.{q}.p50_s"] = stats.median(d["wall"]) if d else 0.0
            out[f"query.{q}.jobs"] = stats.median(d["jobs"]) if d else 0

        # queries.build/plan/exec: per-query medians summed over the suite
        for phase in ("build", "plan", "exec"):
            acc: dict[str, list] = {}
            for s in spans:
                if s["name"] == f"queries.{phase}":
                    acc.setdefault(query_of(s), []).append(dur(s))
            out[f"queries.{phase}_s"] = sum(stats.median(v) for v in acc.values())

        # per module: the calls made into it during the traced pass, with
        # the jobs those calls ran themselves
        for mod in MODULES:
            acc = {"exec_s": 0.0, "jobs": 0, "shuffle_write_bytes": 0,
                   "python_worker_s": 0.0}
            for s in spans:
                if not s["name"].startswith(mod + "."):
                    continue
                parent = by_id.get(s["parent"])
                if parent is not None and parent["name"].startswith(mod + "."):
                    continue          # nested call inside the same module
                acc["exec_s"] += dur(s)
                for f in ("jobs", "shuffle_write_bytes", "python_worker_s"):
                    acc[f] += totals[s["id"]][f]
            out.update({f"{mod}.{f}": v for f, v in acc.items()})
        return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()
