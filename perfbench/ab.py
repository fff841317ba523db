#!/usr/bin/env python3
"""A/B comparison of two checkouts on this benchmark.

    python3 perfbench/ab.py PARENT_DIR CHANGE_DIR [--workloads corpus,...]

Each of the PAIRS pairs runs `perfbench/run.py` once in the parent
checkout and once in the change checkout on the same seed (pair i uses
seed BASE_SEED+i), alternating which side goes first. Both sides must carry the same
`perfbench/` and `BENCHMARK.json`; the run length is the one
BENCHMARK.json sets. For every workload and end-to-end metric it
prints each side's median and quartiles, the share of pairs the change
won (ties count for neither), and a verdict:

- `better`: the change won at least 9 of 10 pairs, the medians differ
  by more than the parent's interquartile range, and the change failed
  no more queries than the parent;
- `worse`: the change's median is worse than the parent's by more than
  the metric's bound;
- `unresolved`: either side's interquartile range, as a share of its
  median, is wider than the bound, unless every change run beat every
  parent run (then `better` if the win rule holds);
- `same`: none of these.

Each workload's row group ends with the queries each side attempted and
failed over all its runs; a run whose outputs were wrong still counts.

This is the comparison to use for claims against this benchmark, in
place of single runs or per-query minima.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

PAIRS = 11
BASE_SEED = 1000


def run(checkout, workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run failed in {checkout}: {workload} seed {seed}")
    res = json.loads(lines[-1])
    if not res["correct"]:
        sys.stderr.write(f"outputs wrong in {checkout}: {workload} "
                         f"seed {seed}\n")
    metrics = {k: v["value"] for k, v in res["metrics"].items()}
    return metrics, res["attempted"], res["failed"]


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(a, b, better, bound, fails_more):
    """Verdict for parent runs `a` and change runs `b` (paired);
    `fails_more` refuses `better`."""
    sign = 1 if better == "lower" else -1
    wins = sum(1 for x, y in zip(a, b) if sign * (y - x) < 0)
    losses = sum(1 for x, y in zip(a, b) if sign * (y - x) > 0)
    a1, am, a3 = quartiles(a)
    b1, bm, b3 = quartiles(b)
    won = wins >= 0.9 * len(a) and abs(bm - am) > a3 - a1 and \
        sign * (bm - am) < 0 and not fails_more
    all_better = all(sign * (y - x) < 0 for x in a for y in b)
    if (a3 - a1) / am > bound or (b3 - b1) / bm > bound:
        return ("better" if won and all_better else "unresolved"), wins, losses
    if won:
        return "better", wins, losses
    if sign * (bm - am) > bound * am:
        return "worse", wins, losses
    return "same", wins, losses


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workloads", default=None)
    args = ap.parse_args()
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])
    metrics = bench["end_to_end"]
    print(f"{'workload':14s} {'metric':18s} {'parent q1/med/q3':>26s} "
          f"{'change q1/med/q3':>26s} {'wins':>7s}  verdict")
    for w in workloads:
        a, b = [], []
        for i in range(PAIRS):
            seed = BASE_SEED + i
            sides = [(args.parent, a), (args.change, b)]
            for checkout, acc in (sides if i % 2 == 0 else sides[::-1]):
                acc.append(run(checkout, w, seed, bench["run_seconds"]))
        fa_n = sum(r[2] for r in a)
        fb_n = sum(r[2] for r in b)
        for m in metrics:
            name = m["name"]
            xa = [r[0][name] for r in a]
            xb = [r[0][name] for r in b]
            v, wins, losses = verdict(xa, xb, m["better"], m["bound"],
                                      fb_n > fa_n)
            fa = "/".join(f"{x:.4g}" for x in quartiles(xa))
            fb = "/".join(f"{x:.4g}" for x in quartiles(xb))
            print(f"{w:14s} {name:18s} {fa:>26s} {fb:>26s} "
                  f"{wins:>3d}-{losses:<3d}  {v}", flush=True)
        print(f"{w:14s} {'failed/attempted':18s} "
              f"{f'{fa_n}/{sum(r[1] for r in a)}':>26s} "
              f"{f'{fb_n}/{sum(r[1] for r in b)}':>26s}", flush=True)


if __name__ == "__main__":
    main()
