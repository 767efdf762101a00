"""Benchmark entry point.

    python3 perfbench/run.py --workload api-serve --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. Generates the inputs from ``--seed``,
starts the engine's own Spark session on this host's cores, measures
the workload for ``--seconds``, checks the outputs, and prints one JSON
result line last: end-to-end metrics with ``--trace 0``, per-layer
metrics (from a run with span recorders installed) with ``--trace 1``.
See perfbench/METRICS.md for what each metric means per workload.
"""

from __future__ import annotations

import argparse
import importlib
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

PKG_DIR = os.path.join(harness.ROOT, "hyperion_history_api_spark")

from metrics import END_TO_END, PER_LAYER  # noqa: E402

#: workload -> (module, default scale factor)
WORKLOADS = {
    "api-serve": ("api_serve", 0.1),
    "ingest-stream": ("ingest_stream", 0.1),
}


def parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--sf", type=float, default=None, help="scale factor of the generated tables (default: per workload)")
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse(argv)
    if not os.path.isdir(PKG_DIR):
        print(f"perfbench: engine package not found at {PKG_DIR}", file=sys.stderr)
        return 2
    sys.path.insert(0, harness.ROOT)
    dirs = harness.isolate(args.workload, args.seed)
    spark = None
    try:
        import datagen

        module_name, default_sf = WORKLOADS[args.workload]
        rows = datagen.generate(args.seed, args.sf or default_sf, dirs.data)
        sizes = {
            "users": max(10, rows["customer"] // 10),
            "orders": rows["orders"],
            "customers": rows["customer"],
            "events": rows["events"],
        }
        sentinel0 = harness.load_sentinel()
        snap0, wall0 = harness.cpu_snapshot(), time.perf_counter()
        mem = harness.MemorySampler().start()
        spark, session_s = harness.start_session()
        mem.attach(spark)

        tracer = None
        if args.trace:
            import spans as sp

            tracer = sp.Tracer()
        out = importlib.import_module(module_name).run(spark, args, dirs, sizes, tracer)
        mem.stop()
        harness.stop_session(spark)
        spark = None
        snap1, wall = harness.cpu_snapshot(), time.perf_counter() - wall0
        sentinel = max(sentinel0, harness.load_sentinel())

        setup_s = session_s + harness.median(out.setup_walls) + sum(out.setup_once.values()) + out.warm_s
        e2e = {"setup_s": setup_s, "peak_rss_mb": mem.peak_mb, **out.e2e}
        host = {
            "host.sentinel_s": sentinel,
            "host.external_cores": harness.external_cores(snap0, snap1, wall),
            "session.start_s": session_s,
            out.setup_metric: harness.median(out.setup_walls),
            **out.setup_once,
            "warm_s": out.warm_s,
            "memory.pss_peak_mb": mem.pss_peak_mb,
            "jvm.heap_live_peak_mb": mem.heap_live_peak_mb,
        }
        if args.trace:
            # layers a workload does not run report 0
            layer = {name: 0.0 for name in PER_LAYER}
            layer.update(host)
            layer.update(out.layer)
            metrics = {n: (layer[n], unit) for n, unit in PER_LAYER.items()}
            os.makedirs(harness.OUT_DIR, exist_ok=True)
            spans_path = os.path.join(harness.OUT_DIR, f"spans-{args.workload}-s{args.seed}.jsonl")
            tracer.dump(spans_path)
            out.extra["spans_file"] = os.path.relpath(spans_path, harness.ROOT)
            out.extra["spans"] = len(tracer.spans)
        else:
            metrics = {n: (e2e[n], unit) for n, unit in END_TO_END.items()}
        out.extra.update({k: round(v, 4) for k, v in host.items()})
        harness.emit(out.checks, metrics, out.extra)
        return 0
    finally:
        if spark is not None:
            harness.stop_session(spark)
        dirs.close()


if __name__ == "__main__":
    sys.exit(main())
