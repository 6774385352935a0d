#!/usr/bin/env python3
"""Traced run of every workload, merged into one JSON report.

    python3 perfbench/report.py --seed 7 [--seconds 20] [--out .bench_out/trace_report.json]

Runs `run.py --trace 1` once per workload (extract-text included) and
writes one JSON with each workload's per-layer metrics, its untraced
end-to-end metrics, the tracing overhead and the layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_out", "trace_report.json"))
    ns = ap.parse_args()
    merged = {}
    for w in WORKLOADS:
        subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
             "--seed", str(ns.seed), "--seconds", str(ns.seconds), "--trace", "1"],
            cwd=ROOT, check=True, stdout=subprocess.DEVNULL,
        )
        with open(os.path.join(ROOT, ".bench_out", f"trace-{w}.json")) as fh:
            merged[w] = json.load(fh)
    os.makedirs(os.path.dirname(os.path.abspath(ns.out)), exist_ok=True)
    with open(ns.out, "w") as fh:
        json.dump(merged, fh, indent=1)
    for w, r in merged.items():
        pl = r["per_layer"]
        print(f"{w}: layer_coverage={pl['pipeline.layer_coverage']:.3f} "
              f"overhead_share={pl['trace.overhead_share']:.3f} failed={r['failed']}")
    print(ns.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
