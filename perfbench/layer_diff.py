#!/usr/bin/env python3
"""Diff two traced runs layer by layer.

    python3 perfbench/layer_diff.py A.trace.jsonl B.trace.jsonl
    python3 perfbench/run.py --diff A.trace.jsonl B.trace.jsonl

A traced run (`--trace 1`) writes `.bench_build/perfbench/traces/
<workload>-s<seed>.trace.jsonl`; its first line holds each layer's self
time and span count and every per-layer metric. Prints, for each layer,
self time and count in A and B and their difference, then every per-layer
metric whose value differs.
"""
import json
import sys


def summary(path):
    with open(path) as fh:
        return json.loads(fh.readline())


def pct(a, b):
    return f"{(b - a) / a * 100:+.1f}%" if a else "n/a"


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    a, b = (summary(p) for p in argv)
    if a["workload"] != b["workload"]:
        print(f"note: comparing {a['workload']} with {b['workload']}")
    print(f"{'layer':14s} {'self_ms A':>12s} {'self_ms B':>12s} {'delta':>12s} "
          f"{'':>8s} {'count A':>8s} {'count B':>8s} {'delta':>7s}")
    for layer in a["layers"]:
        la, lb = a["layers"][layer], b["layers"].get(layer, {"self_ms": 0, "count": 0})
        print(f"{layer:14s} {la['self_ms']:12.1f} {lb['self_ms']:12.1f} "
              f"{lb['self_ms'] - la['self_ms']:+12.1f} {pct(la['self_ms'], lb['self_ms']):>8s} "
              f"{la['count']:8d} {lb['count']:8d} {lb['count'] - la['count']:+7d}")
    print()
    print(f"{'metric':40s} {'A':>16s} {'B':>16s} {'change':>8s}")
    for name, va in a["metrics"].items():
        vb = b["metrics"].get(name)
        if vb is not None and vb != va:
            print(f"{name:40s} {va:16.6g} {vb:16.6g} {pct(va, vb):>8s}")


if __name__ == "__main__":
    main(sys.argv[1:])
