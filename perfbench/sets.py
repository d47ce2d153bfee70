"""Run sets of benchmark runs and summarize their spread.

    python3 perfbench/sets.py --seeds 101-110 --sets 2 --out perfbench/.work/sets.jsonl

Run from the repository root. For each set and each seed it runs every
workload of BENCHMARK.json in turn (so a slow phase of the host hits every
workload alike), untraced, with BENCHMARK.json's run_seconds, and appends
one JSON line per run to --out: the run's result line, its report, its
elapsed time and the host spin count of the two seconds before it (context
only). Then it prints, per workload and end-to-end metric, each set's
median and its quartile spread (the distance between the first and third
quartiles of `statistics.quantiles(values, n=4)`, as a share of the
median), and each later set's median against the first set's; and the
same for `wall_s`, which runs print but do not declare.
`--summarize` prints the summary of an existing --out file without running.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def value(row: dict, name: str) -> float | None:
    """A metric of a run's JSON line, or a `name: value unit` report line."""
    if name in row["metrics"]:
        return row["metrics"][name]["value"]
    for line in row["report"]:
        if line.startswith(name + ": "):
            return float(line.split()[1])
    return None


def summarize(rows: list[dict], bench: dict) -> list[str]:
    lines = ["| workload | metric | bound | set | median | spread | vs set 1 |",
             "|---|---|---|---|---|---|---|"]
    metrics = bench["end_to_end"] + [{"name": "wall_s", "bound": "-"}]
    for w in [w["name"] for w in bench["workloads"]]:
        for m in metrics:
            first = None
            for k in sorted({r["set"] for r in rows}):
                vals = [value(r, m["name"]) for r in rows
                        if r["workload"] == w and r["set"] == k and r["rc"] == 0]
                vals = [v for v in vals if v is not None]
                if len(vals) < 2:
                    continue
                med = statistics.median(vals)
                first = med if first is None else first
                lines.append(f"| {w} | {m['name']} | {m['bound']} | {k} |"
                             f" {med:.4g} | {spread(vals):.3f} |"
                             f" {med / first - 1:+.3f} |")
        runs = [r for r in rows if r["workload"] == w]
        if runs:
            lines.append(f"| {w} | runs: {len(runs)}, failed ops:"
                         f" {sum(r['failed'] for r in runs)} of"
                         f" {sum(r['attempted'] for r in runs)}, mean run"
                         f" {statistics.mean(r['elapsed_s'] for r in runs):.1f} s"
                         " | | | | | |")
    return lines


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    import host

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="101-110")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--workloads", default="",
                    help="comma-separated subset of BENCHMARK.json's workloads")
    ap.add_argument("--out", default=os.path.join(HERE, ".work", "sets.jsonl"))
    ap.add_argument("--summarize", action="store_true")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    if args.workloads:
        names = [n for n in names if n in args.workloads.split(",")]
    if not args.summarize:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        for k in range(1, args.sets + 1):
            for seed in seeds(args.seeds):
                for w in names:
                    spins = host.host_spins(2.0)
                    t0 = time.perf_counter()
                    p = subprocess.run(
                        [sys.executable, os.path.join(HERE, "run.py"),
                         "--workload", w, "--seed", str(seed), "--seconds",
                         str(bench["run_seconds"]), "--trace", "0"],
                        cwd=ROOT, capture_output=True, text=True, timeout=600)
                    lines = p.stdout.strip().splitlines()
                    row = {"workload": w, "seed": seed, "set": k,
                           "elapsed_s": round(time.perf_counter() - t0, 1),
                           "host_spins_2s": spins, "rc": p.returncode,
                           "report": lines[:-1]}
                    try:
                        row.update(json.loads(lines[-1]))
                    except (IndexError, ValueError):
                        row.update(rc=p.returncode or 1, correct=False,
                                   attempted=0, failed=0, metrics={},
                                   stderr=p.stderr[-2000:])
                    with open(args.out, "a") as f:
                        f.write(json.dumps(row) + "\n")
                    print(f"set {k} seed {seed} {w}: rc={row['rc']}"
                          f" {row['elapsed_s']} s failed={row['failed']}",
                          flush=True)
    with open(args.out) as f:
        rows = [json.loads(x) for x in f if x.strip()]
    rows = [r for r in rows if r["workload"] in names]
    print("\n".join(summarize(rows, bench)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
