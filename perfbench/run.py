#!/usr/bin/env python3
"""Run one workload of the repo benchmark once, in this process.

    python3 perfbench/run.py --workload crawl_live|corpus_suite \\
        --seed N --seconds S --trace 0|1 [--tiny] [--record] [--expected PATH]

Human-readable report lines go to stdout first; the last line is one
JSON object {"correct", "attempted", "failed", "metrics"}.  With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (see NOTES.md).  The exit code is 1 when any output
check fails.  ``--record`` rewrites the expected values from this run
instead of checking them.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WORKLOADS = ["crawl_live", "corpus_suite"]
END_TO_END = [("setup_s", "s"), ("cycle_s", "s"), ("step_p50_s", "s"),
              ("step_geomean_s", "s"), ("throughput_per_s", "1/s"),
              ("request_p50_s", "s"), ("request_tail_s", "s")]


def _number(v: float) -> float:
    return v if isinstance(v, (int, float)) and math.isfinite(v) else 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test sizes")
    ap.add_argument("--record", action="store_true", help="rewrite expected values")
    ap.add_argument("--expected", help="expected-values file (default: expected/)")
    args = ap.parse_args(argv)

    result = importlib.import_module(f"perfbench.{args.workload}").run(args)
    report = result["report"]
    for f in report.pop("failures"):
        print(f"FAILED {f}")
    print("report " + json.dumps(report, sort_keys=True, default=str))
    if args.trace:
        layers = result["layers"]
        for layer, vals in sorted(layers["folded"].items()):
            print(f"engine {layer} " + json.dumps(vals, sort_keys=True))
        for layer, s in sorted(layers["layer_s"].items()):
            print(f"wall {layer} {s:.4f} s")
        for name, (calls, s) in sorted(layers["name_s"].items(), key=lambda kv: -kv[1][1]):
            print(f"span {name} calls={calls} {s:.4f} s")
        metrics = layers["metrics"]
    else:
        metrics = result["metrics"]
        if [n for n, _ in END_TO_END] != list(metrics):
            raise RuntimeError(f"end-to-end metric set drifted: {list(metrics)}")
    for name, (value, unit) in metrics.items():
        print(f"metric {name} {value!r} {unit}")
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {n: {"value": _number(v), "unit": u} for n, (v, u) in metrics.items()},
    }))
    return 0 if result["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
