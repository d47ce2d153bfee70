"""The benchmark's metric names, units and directions. BENCHMARK.json at
the repository root declares the same lists (a test keeps them equal).
Imports bench.py, so the repository root must be on sys.path."""

from __future__ import annotations

from bench import HEADLINE

WORKLOADS = ("ingest_composite", "registry_queries")

# (name, unit, better, bound): every workload reports every one. wall_s is
# printed but not declared: the host's speed swings it by a third over
# minutes, more than any bound allows (see README.md)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("busy_cpu_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
]

MODULES = ("textops", "spatial", "temporal", "mosaic", "cells")

# (name, unit, better); a workload that does not exercise a layer reports 0
PER_LAYER = (
    [("session.start_s", "s", "lower"),
     ("codec.decode_stack_us_per_tile", "us", "lower"),
     ("cells.encode_ns_per_pt", "ns", "lower"),
     ("spatial.pip_np_ns_per_pt", "ns", "lower"),
     ("rasterops.scan_s", "s", "lower"),
     ("rasterops.features_s", "s", "lower"),
     ("rasterops.composite_s", "s", "lower"),
     ("rasterops.python_worker_s", "s", "lower"),
     ("rasterops.python_bytes_sent", "bytes", "lower"),
     ("rasterops.python_bytes_returned", "bytes", "lower"),
     ("rasterops.tasks", "count", "lower"),
     ("rasterops.shuffle_write_bytes", "bytes", "lower"),
     ("queries.build_s", "s", "lower"),
     ("queries.plan_s", "s", "lower"),
     ("queries.exec_s", "s", "lower")]
    + [(f"query.{q}.{m}", u, "lower") for q in HEADLINE
       for m, u in (("p50_s", "s"), ("jobs", "count"))]
    + [(f"{mod}.{m}", u, "lower") for mod in MODULES
       for m, u in (("exec_s", "s"), ("jobs", "count"),
                    ("shuffle_write_bytes", "bytes"),
                    ("python_worker_s", "s"))]
    + [("snapshots.commit_s", "s", "lower"),
       ("snapshots.commit_jobs", "count", "lower"),
       ("snapshots.refresh_s", "s", "lower"),
       ("snapshots.refresh_jobs", "count", "lower"),
       ("snapshots.scan_s", "s", "lower"),
       ("snapshots.scan_dirs", "count", "lower"),
       ("snapshots.scan_files", "count", "lower"),
       ("snapshots.bytes_written_per_input_byte", "ratio", "lower"),
       ("trace.spans", "count", "lower"),
       ("trace.busy_cpu_s", "s", "lower"),
       ("trace.executor_cpu_s", "s", "lower"),
       ("trace.python_worker_s", "s", "lower"),
       ("trace.cpu_reconcile_ratio", "ratio", "higher"),
       ("trace.overhead_frac", "ratio", "lower")]
)
