#!/usr/bin/env python3
"""Rollup-pipeline benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload append_blocks --seed 1 --seconds 10 --trace 0

Workloads: append_blocks, tier_reads (see README.md).  The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  The line before it
(``detail``) carries environment, per-kind latencies, the failed-op
ratio, check results and, for a traced run, its tracing overhead.  Exit
status is 0 only when every output checked correct, and 2 when the
package under test cannot be imported.
"""

from __future__ import annotations

import time

PROC_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--convs", type=int, default=200,
                   help="conversations generated (input size)")
    p.add_argument("--avg-turns", type=int, default=500,
                   help="average turns per conversation (input size)")
    p.add_argument("--work", default=os.path.join(ROOT, ".perfbench"),
                   help="scratch directory, wiped at every run")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        import grass_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2
    from layers import layer_metrics
    from workloads import Bench, Config

    cfg = Config(workload=args.workload, seed=args.seed, seconds=args.seconds,
                 trace=bool(args.trace), work=args.work,
                 convs=args.convs, avg_turns=args.avg_turns)
    bench = Bench(cfg, PROC_T0)
    try:
        bench.run()
        out = bench.finish()
    finally:
        bench.close()
    detail = out["detail"]
    metrics = out["e2e"]
    last = os.path.join(args.work, "last_untraced", f"{args.workload}.json")
    if cfg.trace:
        metrics = layer_metrics(bench)
        bench.tr.dump(os.path.join(bench.run_dir, "spans.json"))
        detail["traced_e2e"] = {k: v for k, (v, _) in out["e2e"].items()}
        if os.path.exists(last):
            with open(last) as f:
                base = json.load(f)
            detail["trace_overhead"] = {
                "vs_seed": base["seed"],
                **{k: out["e2e"][k][0] / v - 1.0
                   for k, v in base["e2e"].items() if v and k in out["e2e"]},
            }
    else:
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as f:
            json.dump({"seed": cfg.seed, "e2e": {k: v for k, (v, _) in out["e2e"].items()}}, f)
    correct = out["correct"] and all(math.isfinite(v) for v, _ in metrics.values())
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": correct,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
