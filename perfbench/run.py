#!/usr/bin/env python3
"""gpse benchmark: one command per workload run (see perfbench/README.md).

    python3 perfbench/run.py --workload backlog_loop --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of stdout is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics of a traced run with --trace 1. The line
before it, '# detail {...}', carries the workload's own metrics
(urls_per_s, maint_s, catalog_bytes_per_url or suite_s, with units), the
one-time input build time and host context (steal seconds, load). The exit
code is 0 only when every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("backlog_loop", "analytics")


def _spec(trace: bool) -> dict[str, str]:
    """{metric name: unit} the run reports, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="gpse benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine is imported from the checkout, here and in Spark's workers
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    from perfbench import analytics, crawlbench
    from perfbench.harness import Run

    want = _spec(bool(args.trace))
    run = Run(args)
    try:
        mod = analytics if args.workload == "analytics" else crawlbench
        metrics, detail = mod.workload(run)
    finally:
        run.close()
    unknown = sorted(set(metrics) - set(want))
    missing = sorted(set(want) - set(metrics))
    # a traced run reports 0 for the layers its workload never calls
    if unknown or (missing and not args.trace):
        raise RuntimeError(f"metrics not in BENCHMARK.json: {unknown}; not produced: {missing}")
    detail.update(run.host.finish())
    detail.update({"workload": args.workload, "seed": args.seed, "trace": args.trace, "failures": run.failures})
    out = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in want.items()},
    }
    print("# detail " + json.dumps(detail, sort_keys=True), flush=True)
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - report, and fail without a result line
        traceback.print_exc()
        sys.exit(2)
