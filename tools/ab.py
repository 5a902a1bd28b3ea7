#!/usr/bin/env python3
"""Matched A/B of one benchmark workload between two checkouts.

    python3 tools/ab.py <parent_dir> <change_dir> <workload> <pairs>

Runs `perfbench/run.py` in each checkout once per pair, with seed = pair
number (1..pairs) on both sides, alternating which side runs first (odd
pairs: parent first; even pairs: change first) so slow drifts in machine
load fall on both sides evenly. Each checkout builds itself on its first run.

Prints every run as it finishes, then, for each end-to-end metric declared in
the parent's BENCHMARK.json: the median and quartiles of each side, the
number of pairs the change won, the change's median relative to the
parent's, and a verdict:
  - "better-all": the parent's IQR, relative to its median, is wider than
    the metric's bound, but every change run beats every parent run;
  - "unresolved": the parent's IQR, relative to its median, is wider than
    the metric's bound, so a shift within the bound cannot be told apart;
  - "worse>bound": the change's median is worse than the parent's by more
    than the bound;
  - "ok" otherwise.
A run that produced no result, or ran past RUN_CAP_S seconds, counts as
failed on its side and is never a sample; the last 20 stderr lines of every
failed run are printed. Exits non-zero if any run failed or reported `correct: false`.
"""
import json
import os
import signal
import statistics
import subprocess
import sys

RUN_CAP_S = 900  # wall cap of one perfbench run; a run past it counts as failed


def run_once(checkout, workload, seed, trace=0):
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", "10", "--trace", str(trace)]
    # own session, so a run past the cap is killed with the JVMs it started
    p = subprocess.Popen(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True, start_new_session=True)
    try:
        out, err = p.communicate(timeout=RUN_CAP_S)
        why = f"exit {p.returncode}"
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        _, err = p.communicate()
        out, why = "", f"past the {RUN_CAP_S} s cap"
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        tail = "\n".join(err.splitlines()[-20:])
        print(f"{checkout} {workload} seed {seed}: no result ({why}); stderr tail:\n{tail}",
              flush=True)
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    if len(sys.argv) != 5:
        raise SystemExit(__doc__)
    parent, change, workload, pairs = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
    with open(os.path.join(parent, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    sides = {"parent": parent, "change": change}
    runs = {"parent": [], "change": []}
    for pair in range(1, pairs + 1):
        order = ["parent", "change"] if pair % 2 == 1 else ["change", "parent"]
        for side in order:
            r = run_once(sides[side], workload, pair)
            runs[side].append(r)
            if r is None:
                print(f"pair {pair:2d} {side:6s} no result (failed)", flush=True)
                continue
            vals = " ".join(f"{m['name']}={r['metrics'][m['name']]['value']:.4g}" for m in metrics)
            print(f"pair {pair:2d} {side:6s} correct={str(r['correct']).lower()} "
                  f"failed={r['failed']} {vals}", flush=True)

    ok_pairs = [i for i in range(pairs) if runs["parent"][i] and runs["change"][i]]
    print(f"\n{workload}: {pairs} pairs, {len(ok_pairs)} with a result on both sides")
    print(f"{'metric':16s} {'parent q1/med/q3':>28s} {'change q1/med/q3':>28s} "
          f"{'won':>7s} {'change/parent':>13s}  verdict")
    for m in metrics:
        name, bound, higher = m["name"], m["bound"], m["better"] == "higher"
        val = {s: [runs[s][i]["metrics"][name]["value"] for i in ok_pairs] for s in runs}
        if not ok_pairs:
            print(f"{name:16s} no samples")
            continue
        pq, cq = quartiles(val["parent"]), quartiles(val["change"])
        won = sum(1 for p, c in zip(val["parent"], val["change"]) if (c > p if higher else c < p))
        ratio = cq[1] / pq[1] if pq[1] else float("nan")
        worse = (1 - ratio) if higher else (ratio - 1)
        beats_all = (min(val["change"]) > max(val["parent"]) if higher
                     else max(val["change"]) < min(val["parent"]))
        if pq[1] and (pq[2] - pq[0]) / pq[1] > bound:
            verdict = "better-all" if beats_all else "unresolved"
        elif worse > bound:
            verdict = "worse>bound"
        else:
            verdict = "ok"
        fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"
        print(f"{name:16s} {fmt(pq):>28s} {fmt(cq):>28s} {won:3d}/{len(ok_pairs):<3d} "
              f"{ratio:13.3f}  {verdict} (bound {bound})")
    bad = 0
    for side in runs:
        status = ["none" if r is None else f"{str(r['correct']).lower()}/{r['failed']}"
                  for r in runs[side]]
        bad += sum(1 for r in runs[side] if r is None or not r["correct"] or r["failed"])
        print(f"{side} correct/failed per run: {' '.join(status)}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
