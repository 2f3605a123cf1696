#!/usr/bin/env python3
"""Steadiness check: repeat each workload with different seeds and report
every end-to-end metric's run-to-run spread against its bound.

    python3 perfbench/steady.py [--runs 10] [--seed0 1] [--save out.json]
                                [--compare earlier.json]

Runs every BENCHMARK.json workload at its run_seconds. Spread is the
inter-quartile range of the per-run values
(`statistics.quantiles(values, n=4)`) as a share of their median. A
metric is steady when its spread is within a third of its bound.
`--compare` reports how far each median moved against an earlier
`--save`d set, in the metric's worse direction, against its bound.
Exits 1 if any run is incorrect or any spread or median shift exceeds
its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "0"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if proc.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    detail = json.loads(lines[-2])["perfbench_detail"]
    return json.loads(lines[-1]), detail


def spread(values):
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--save")
    ap.add_argument("--compare")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    earlier = json.load(open(args.compare)) if args.compare else {}

    ok = True
    saved = {}
    for w in workloads:
        values = {m: [] for m in metrics}
        for i in range(args.runs):
            res, detail = run_once(w, args.seed0 + i, seconds)
            if not res["correct"] or res["failed"]:
                print(f"{w} seed {args.seed0 + i}: incorrect ({res['failed']} failed)")
                ok = False
            for m in metrics:
                values[m].append(res["metrics"][m]["value"])
            print(f"{w} seed {args.seed0 + i}: " + ", ".join(
                f"{m}={values[m][-1]:.4g}" for m in metrics) +
                f", steal={detail['env']['cpu_steal_share']:.3f}, setup phases " +
                " ".join(f"{k}={v:.1f}" for k, v in detail["setup_phases_s"].items()),
                flush=True)
        saved[w] = values
        for m, spec in metrics.items():
            med = statistics.median(values[m])
            sp = spread(values[m])
            verdict = ("steady" if sp <= spec["bound"] / 3 else
                       "within bound" if sp <= spec["bound"] else "TOO WIDE")
            ok &= sp <= spec["bound"]
            line = (f"  {w:16s} {m:12s} median={med:.4g} spread={sp:.3f} "
                    f"bound={spec['bound']} [{verdict}]")
            if w in earlier:
                before = statistics.median(earlier[w][m])
                worse = (med - before) / before if spec["better"] == "lower" \
                    else (before - med) / before
                ok &= worse <= spec["bound"]
                line += f" vs earlier median {before:.4g}: worse by {worse:+.3f}"
            print(line, flush=True)
    if args.save:
        with open(args.save, "w") as f:
            json.dump(saved, f)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
