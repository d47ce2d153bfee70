"""Per-query isolation bench (guide §1.4): times individual registry
queries with the noop sink and optionally dumps .explain("formatted").

NOT the driver-timed bench (bench.py is frozen); this is the measurement
tool for optimization work.

Usage:
  python bench_extra.py [--sf DIR] [--reps N] [--plans OUTDIR] q1 q2 ...
  python bench_extra.py --headline          # the bench.py headline set
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import HEADLINE, SF_DIR, _busy_cpu_s, _host_calibration  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=SF_DIR)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--plans", default=None,
                    help="dir to write <name>_<suffix>.txt explain output")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--headline", action="store_true")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    names = list(args.names)
    if args.headline:
        names = HEADLINE + names

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    from data_cube_utilities_spark.session import get_spark
    from data_cube_utilities_spark import queries as q

    spark = get_spark("geocube-bench-extra", cores=cpus,
                      shuffle_partitions=max(cpus, 32))
    reg = q.registry()

    # warm JVM + python workers once, untimed
    reg["pricing_summary"][0](spark, args.sf).write.format("noop") \
        .mode("overwrite").save()

    print(json.dumps({"host_spins_2s": _host_calibration()}), flush=True)

    out = {}
    for name in names:
        fn = reg[name][0]
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(args.plans,
                                   f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(plan)
        walls, cpus_used = [], []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            c0, t0 = _busy_cpu_s(), time.time()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            walls.append(time.time() - t0)
            cpus_used.append(_busy_cpu_s() - c0)
        out[name] = {"wall": round(min(walls), 3),
                     "cpu": round(min(cpus_used), 3),
                     "walls": [round(w, 3) for w in walls]}
        print(json.dumps({name: out[name]}), flush=True)

    print(json.dumps({"sf": args.sf, "total_wall":
                      round(sum(v["wall"] for v in out.values()), 3),
                      "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
