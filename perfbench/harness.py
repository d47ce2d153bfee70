"""What every workload shares: the run context, Spark sessions confined to
the checkout, the set-up protocol, the closed loop and the traced phase."""

from __future__ import annotations

import json
import os
import shutil
import time

import eventlog
import host
import tracing

SETUPS = 3              # set-ups per run; setup_s is the median of all but the first
HEAP = "2g"


class Context:
    """One benchmark run: where it may write, its seed, whether it traces,
    the tracer and the live session."""

    def __init__(self, root: str, workload: str, seed: int, trace: bool):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.cores = host.cores()
        self.work = os.path.join(root, "perfbench", ".work")
        self.tmp = os.path.join(self.work, "tmp")
        self.cache = os.path.join(self.work, "inputs")
        self.scratch = os.path.join(self.work, f"run-{workload}-{os.getpid()}")
        for d in (self.tmp, self.cache, self.scratch):
            os.makedirs(d, exist_ok=True)
        # everything Spark, the JVM and Python workers spill or stage goes
        # under the checkout
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.tmp, "spark-local")
        os.environ["TMPDIR"] = self.tmp
        self.tracer = tracing.Tracer(enabled=False)
        self.spark = None

    # -- sessions -----------------------------------------------------------
    def start_session(self, eventlog_dir: str | None = None):
        from data_cube_utilities_spark.session import get_spark

        conf = {
            "spark.driver.memory": HEAP,
            "spark.ui.showConsoleProgress": "false",
            # fixed heap; no hsperfdata file in /tmp
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:-UsePerfData"
                                             f" -Djava.io.tmpdir={self.tmp}",
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
        }
        if eventlog_dir:
            os.makedirs(eventlog_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.dir": "file://" + eventlog_dir})
        self.spark = get_spark(f"perfbench-{self.workload}", cores=self.cores,
                               extra_conf=conf)
        self.tracer.bind(self.spark.sparkContext)
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM it runs in, and wait for it."""
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.terminate()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        shutil.rmtree(self.scratch, ignore_errors=True)


def setup(ctx: Context, workload) -> tuple[list[float], list[float]]:
    """Start the session and warm it SETUPS times. Returns the set-up times
    (session start + warm-up) and the session-start times alone. The first
    set-up also launches the JVM and runs everything cold, so it is set
    apart from the others; the inputs it prepares are not counted."""
    setups, starts = [], []
    for k in range(SETUPS):
        if k:
            ctx.stop_session()
        t0 = time.perf_counter()
        ctx.start_session()
        starts.append(time.perf_counter() - t0)
        if k == 0:
            workload.prepare(ctx)
        t1 = time.perf_counter()
        workload.warm(ctx)
        setups.append(starts[-1] + time.perf_counter() - t1)
    return setups, starts


class Loop:
    """Closed loop with one client: the next operation starts when the last
    one ends. Records wall and whole-machine busy CPU per operation and
    counts failures (exceptions) against attempts."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.traced = False
        self.busy = {False: 0.0, True: 0.0}     # busy CPU by tracing on/off

    def run(self, fn, *args):
        """Run one operation; returns (result, wall_s, busy_cpu_s), or None
        when it raised."""
        self.attempted += 1
        c0, t0 = host.busy_cpu_s(), time.perf_counter()
        try:
            out = fn(*args)
        except Exception as e:  # a failed operation is a result, not a crash
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {str(e)[:300]}")
            return None
        wall, busy = time.perf_counter() - t0, host.busy_cpu_s() - c0
        self.busy[self.traced] += busy
        return out, wall, busy

    def reject(self, msg: str) -> None:
        """Mark the operation just run as failed: its output was wrong."""
        self.failed += 1
        self.errors.append(msg)

    def fail(self, msg: str) -> None:
        """Count a failed output check."""
        self.attempted += 1
        self.failed += 1
        self.errors.append(msg)

    def ok(self) -> None:
        """Count a passed output check."""
        self.attempted += 1


def modes(ctx: Context, lp: Loop, k: int):
    """Tracing on/off for the runs of iteration k, set on the tracer and
    the loop as each run starts. An untraced run runs once, untraced. A
    traced run runs each iteration twice, traced and untraced, in an order
    that alternates with k, so the overhead is measured A/B in one
    session."""
    order = [False] if not ctx.trace else (
        [True, False] if k % 2 == 0 else [False, True])
    for on in order:
        ctx.tracer.enabled = lp.traced = on
        yield on


def traced_phase(ctx: Context, workload, lp: Loop,
                 seconds: float) -> tuple[dict, float]:
    """Restart the session with the event log on, run the workload's loop
    A/B (see `modes`), and attribute the event log to the spans of the
    traced runs. Returns the workload's per-layer metrics with the trace's
    own figures, and the tracing overhead (traced over untraced wall_s,
    minus one). Writes the spans and the per-span rollup under
    .work/traces."""
    ctx.stop_session()
    log_dir = os.path.join(ctx.scratch, "eventlog")
    ctx.start_session(log_dir)
    app_id = ctx.spark.sparkContext.applicationId
    getattr(workload, "warm_traced", workload.warm)(ctx)
    ctx.tracer = tracing.Tracer(enabled=False)
    ctx.tracer.bind(ctx.spark.sparkContext)
    samples = workload.loop(ctx, lp, seconds)
    busy = lp.busy[True]
    ctx.stop_session()          # flushes and closes the event log

    spans = ctx.tracer.spans
    by_group = eventlog.rollup(eventlog.read_events(_app_log(log_dir, app_id)))
    totals = eventlog.subtree_totals(spans, by_group)
    selfs = tracing.self_times(spans)
    layer = workload.layer_metrics(samples, spans, totals)
    # the loop's jobs only: the warm-up ran before any span was open
    live = [by_group[s["id"]] for s in spans if s["id"] in by_group]
    jobs = {f: sum(g[f] for g in live) for f in eventlog.FIELDS}
    layer.update({
        "trace.spans": len(spans),
        "trace.busy_cpu_s": busy,
        "trace.executor_cpu_s": jobs["executor_cpu_s"],
        "trace.python_worker_s": jobs["python_worker_s"],
        "trace.cpu_reconcile_ratio":
            (jobs["executor_cpu_s"] + jobs["python_worker_s"]) / max(busy, 1e-9),
    })

    out_dir = os.path.join(ctx.work, "traces")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{ctx.workload}-seed{ctx.seed}")
    ctx.tracer.dump(stem + "-spans.json")
    with open(stem + "-rollup.json", "w") as f:
        json.dump({
            "by_span": {s["id"]: {"name": s["name"], "op": s["op"],
                                  "self_s": selfs[s["id"]], **totals[s["id"]]}
                        for s in spans},
            "reconcile": {"host_busy_cpu_s": busy,
                          "executor_cpu_s": jobs["executor_cpu_s"],
                          "executor_run_s": jobs["executor_run_s"],
                          "python_worker_s": jobs["python_worker_s"]},
        }, f, indent=1)
    traced = workload.e2e(samples, traced=True)["wall_s"]
    return layer, traced / workload.e2e(samples)["wall_s"] - 1.0


def _app_log(d: str, app_id: str) -> str:
    for name in os.listdir(d):
        if app_id in name:
            return os.path.join(d, name)
    raise FileNotFoundError(f"no event log for {app_id} in {d}")
