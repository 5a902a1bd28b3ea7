#!/usr/bin/env python3
"""Per-layer metrics of one benchmark workload, two checkouts side by side.

    python3 tools/layers.py <parent_dir> <change_dir> <workload> <seed>

Runs `perfbench/run.py --trace 1` once in each checkout (parent first) with
the same seed, then prints every per-layer metric the parent's
BENCHMARK.json declares: its unit, the value on each side, and the change's
value relative to the parent's. Counts are single runs, not medians; use
tools/ab.py for end-to-end comparisons. Exits non-zero if a side produced no
result, reported `correct: false`, or failed an operation.
"""
import json
import os
import sys

from ab import run_once


def main():
    if len(sys.argv) != 5:
        raise SystemExit(__doc__)
    parent, change, workload, seed = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
    with open(os.path.join(parent, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer"]
    runs = {side: run_once(d, workload, seed, trace=1)
            for side, d in (("parent", parent), ("change", change))}
    for side, r in runs.items():
        if r is None:
            print(f"{side}: no result (failed)")
    if None in runs.values():
        return 1

    print(f"{workload} seed {seed}, one traced run per side")
    print(f"{'metric':32s} {'unit':8s} {'parent':>14s} {'change':>14s} {'change/parent':>13s}")
    for m in declared:
        name = m["name"]
        p, c = (runs[s]["metrics"].get(name, {}).get("value") for s in ("parent", "change"))
        fmt = lambda v: "-" if v is None else f"{v:.6g}"
        ratio = f"{c / p:.3f}" if p and c is not None else "-"
        print(f"{name:32s} {m['unit']:8s} {fmt(p):>14s} {fmt(c):>14s} {ratio:>13s}")
    bad = 0
    for side, r in runs.items():
        print(f"{side}: correct={str(r['correct']).lower()} failed={r['failed']}")
        bad += (not r["correct"]) or r["failed"] > 0
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
