"""The geocube benchmark: one workload, one seed, one Spark session.

    python3 perfbench/run.py --workload ingest_composite --seed 1 \\
        --seconds 3 --trace 0

Run from the repository root. The command builds its inputs from the seed
(cached under perfbench/.work), sets up the session several times, checks
the workload's outputs outside the timed loop, runs a closed loop with one
client for --seconds, prints a human-readable report and, as its last
line, one JSON object: {"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics. --trace 1 restarts the session
with Spark's event log on and runs every operation twice, with spans around
every layer call and without, in alternating order; it reports the
per-layer metrics of the traced runs and the tracing overhead against the
untraced ones, and writes the spans and the per-span event-log rollup to
perfbench/.work/traces.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv=None) -> int:
    for need in ("data_cube_utilities_spark/session.py", "bench.py",
                 "tools/check_oracles.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}: run from a"
                  " checkout of the repository", file=sys.stderr)
            return 2
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    import catalog

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=catalog.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import harness
    import host
    import stats
    from ingest import IngestComposite
    from raster import micro_timings
    from registry import Registry

    wl = {"ingest_composite": IngestComposite,
          "registry_queries": Registry}[args.workload]()
    ctx = harness.Context(ROOT, args.workload, args.seed, bool(args.trace))
    lp = harness.Loop()
    lines = [f"workload={args.workload} seed={args.seed} cores={ctx.cores}"
             f" seconds={args.seconds:g} trace={args.trace}"]
    t0 = time.perf_counter()
    try:
        setups, starts = harness.setup(ctx, wl)
        t1 = time.perf_counter()
        wl.check(ctx, lp)
        t2 = time.perf_counter()
        lines.append(f"phases: setup {t1 - t0:.1f} s, checks {t2 - t1:.1f} s")
        if not args.trace:
            samples = wl.loop(ctx, lp, args.seconds)
            rss = host.tree_peak_rss_mb()
            values = dict(wl.e2e(samples), setup_s=stats.median(setups[1:]),
                          peak_rss_mb=rss)
            metrics = {name: (values[name], unit)
                       for name, unit, _, _ in catalog.END_TO_END}
            lines += wl.report(samples)
            lines.append(f"wall_s: {values['wall_s']:.6g} s (not in the JSON:"
                         " host phases swing it, see README.md)")
            lines.append(stats.fmt_summary("setup_s", "s", setups[1:])
                         + f" (restarts; first set-up, with the JVM launch:"
                         f" {setups[0]:.3f} s)")
        else:
            layer, overhead = harness.traced_phase(ctx, wl, lp, args.seconds)
            layer.update(micro_timings(args.seed))
            layer["session.start_s"] = stats.median(starts[1:])
            layer["trace.overhead_frac"] = overhead
            lines.append(f"tracing overhead: {overhead:.3%} of wall_s"
                         " (traced vs untraced runs, A/B in one session)")
            metrics = {name: (layer.get(name, 0), unit)
                       for name, unit, _ in catalog.PER_LAYER}
    finally:
        ctx.shutdown()

    lines.append(f"failed_op_ratio: {lp.failed / max(lp.attempted, 1):.6g}"
                 f" ({lp.failed} of {lp.attempted} operations and checks)")
    lines += [f"error: {e}" for e in lp.errors[:20]]
    lines += [f"{k}: {v:.6g} {u}" for k, (v, u) in metrics.items()]
    for line in lines:
        print(line, flush=True)
    print(json.dumps({
        "correct": lp.failed == 0,
        "attempted": lp.attempted,
        "failed": lp.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
