#!/usr/bin/env python3
"""Alternating parent/change pairs of perfbench runs, summarised.

    python3 tools/perf_pairs.py PARENT_DIR CHANGE_DIR --workload W --seeds A-B
        [--seconds 14] [--trace 0] [--save runs.json]

PARENT_DIR and CHANGE_DIR are two checkouts (each builds its own
engine). For every seed in A..B it runs `perfbench/run.py` once in each
checkout, with the same workload, seed and length, alternating which
side goes first. It then prints, per end-to-end metric of
BENCHMARK.json:

  - each side's median and quartiles [q1, q3];
  - the relative change of the medians;
  - the pairs the change won (ties count for neither side);
  - whether the medians differ by more than the parent's IQR (q3 - q1);
  - GAIN when the change wins at least 9/10 of the pairs AND clears the
    parent's IQR, WORSE when its median is worse than the parent's by
    more than the metric's bound, otherwise no verdict.

With `--trace 1` the same table covers the per-layer metrics (they have
no bound). Failed ops per run are listed too: a gain with failures is
no gain.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if out.returncode != 0 or not lines:
        raise SystemExit(f"perf_pairs: run failed in {checkout} (seed {seed})")
    res = json.loads(lines[-1])
    return {"seed": seed, "failed": res["failed"],
            "attempted": res["attempted"],
            "metrics": {k: v["value"] for k, v in res["metrics"].items()}}


def quartiles(xs):
    """(q1, median, q3)."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4))


def summarise(metrics, pairs):
    rows = []
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        par = [p[0]["metrics"][name] for p in pairs]
        chg = [p[1]["metrics"][name] for p in pairs]
        pq1, pmed, pq3 = quartiles(par)
        cq1, cmed, cq3 = quartiles(chg)
        wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
        better = cmed < pmed if lower else cmed > pmed
        clears = abs(cmed - pmed) > (pq3 - pq1)
        rel = (cmed - pmed) / pmed if pmed else float("nan")
        worse_by = rel if lower else -rel
        verdict = ""
        if better and clears and wins * 10 >= 9 * len(pairs):
            verdict = "GAIN"
        elif worse_by > m.get("bound", float("inf")):
            verdict = "WORSE"
        rows.append((name, pmed, pq1, pq3, cmed, cq1, cq3, rel, wins,
                     clears, verdict))
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="A-B, inclusive")
    ap.add_argument("--seconds", type=float, default=14)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--save", help="write every run's result here")
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    with open(os.path.join(a.change, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["per_layer" if a.trace else "end_to_end"]
    pairs = []
    for i, seed in enumerate(range(lo, hi + 1)):
        order = [a.parent, a.change] if i % 2 == 0 else [a.change, a.parent]
        got = {d: run(d, a.workload, seed, a.seconds, a.trace) for d in order}
        pairs.append((got[a.parent], got[a.change]))
        print(f"seed {seed} ({'parent' if i % 2 == 0 else 'change'} first): "
              + "  ".join(f"{n}: {got[d]['failed']}/{got[d]['attempted']} failed"
                          for n, d in (("parent", a.parent), ("change", a.change))),
              flush=True)
    if a.save:
        with open(a.save, "w") as fh:
            json.dump({"workload": a.workload, "seconds": a.seconds,
                       "pairs": pairs}, fh, indent=1)
    print(f"\n{a.workload}, {len(pairs)} pairs, seeds {lo}-{hi}, "
          f"trace {a.trace}; median [q1, q3]")
    for (name, pmed, pq1, pq3, cmed, cq1, cq3, rel, wins, clears,
         verdict) in summarise(metrics, pairs):
        print(f"  {name:26s} parent {pmed:.4g} [{pq1:.4g}, {pq3:.4g}]  "
              f"change {cmed:.4g} [{cq1:.4g}, {cq3:.4g}]  {rel:+.1%}  "
              f"wins {wins}/{len(pairs)}  "
              f"{'>' if clears else '<='} parent IQR  {verdict}")


if __name__ == "__main__":
    main()
