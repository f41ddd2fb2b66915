"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload batch --seed 1 --seconds 4 --trace 0

Workloads and metrics are declared in BENCHMARK.json. The last line of
standard output is one JSON object: {"correct", "attempted", "failed",
"metrics"}; with --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones. Diagnostics go to standard error, and the
traced run's spans to perfbench/.work/trace-<workload>-<seed>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "open_pulsar_spark", "__init__.py")):
        print("perfbench: no open_pulsar_spark package in the current directory", file=sys.stderr)
        return 2
    declared = _declared()
    if args.workload not in {w["name"] for w in declared["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import importlib

    from perfbench import harness
    from perfbench.stats import median
    from perfbench.tracing import RssSampler

    runner = importlib.import_module(f"perfbench.{args.workload}").run

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    harness.clean(work)
    r = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    harness.prepare_environment(ROOT, work, r.cores)
    t0 = time.perf_counter()
    try:
        with RssSampler() as rss:
            runner(r)
        r.put("setup_s", median(r.setup_times))
        r.put("mem.peak_rss_mb", rss.peak / 2**20)
        if r.traced:
            r.put("trace.spans", len(r.tracer.spans))
            r.tracer.dump(os.path.join(HERE, ".work", f"trace-{args.workload}-{args.seed}.json"))
    finally:
        r.stop_spark()
        harness.shutdown_jvm()
        harness.clean(work)

    group = "per_layer" if r.traced else "end_to_end"
    missing = [m["name"] for m in declared["end_to_end"] if m["name"] not in r.metrics]
    if missing and not r.traced:
        print(f"perfbench: end-to-end metrics not measured: {missing}", file=sys.stderr)
        return 3
    metrics = {
        m["name"]: {"value": r.metrics.get(m["name"], 0.0), "unit": m["unit"]}
        for m in declared[group]
    }
    for f in r.failures[:20]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(
        f"perfbench: {args.workload} seed={args.seed} wall={time.perf_counter() - t0:.1f}s "
        f"setup={['%.2f' % s for s in r.setup_times]} info={json.dumps(r.info)}",
        file=sys.stderr,
    )
    print(
        json.dumps(
            {
                "correct": not r.failures,
                "attempted": max(r.attempted, 1),
                "failed": len(r.failures),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
