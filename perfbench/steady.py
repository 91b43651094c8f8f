#!/usr/bin/env python3
"""Run each workload several times and report how steady its figures are.

    python3 perfbench/steady.py --runs 10 [--sets 2] [--workloads tick_serve]
                                [--seed-base 100] [--trace-overhead]

Run from the repository root. Each run is `perfbench/run.py` with its own
seed (seed-base + 1000 * set + run index) and the run length from
BENCHMARK.json. For every end-to-end metric it prints the median, the first
and third quartiles (Python's statistics.quantiles, n=4) and the spread
(Q3 - Q1) / median against the metric's bound. With --sets 2 it also says
whether the two sets' medians differ, either way, by more than the bound,
and whether the share of failed operations is the same in both sets.
With --trace-overhead every run is repeated with --trace 1 and the traced
minus untraced median of each end-to-end metric is printed (the traced run
records its end-to-end figures next to its spans).
Raw results go to $CARGO_TARGET_DIR (default .bench_build)/steady-<time>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t = time.time()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"  {workload} seed {seed}: exit {p.returncode}", flush=True)
        return None
    out = json.loads(lines[-1])
    out["wall_s"] = wall
    print(f"  {workload} seed {seed} trace {trace}: {wall:.0f} s, correct={out['correct']} "
          f"attempted={out['attempted']} failed={out['failed']}", flush=True)
    return out


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1, choices=(1, 2))
    ap.add_argument("--workloads", default="")
    ap.add_argument("--seed-base", type=int, default=100)
    ap.add_argument("--trace-overhead", action="store_true")
    args = ap.parse_args()
    if args.runs < 2:
        ap.error("--runs must be at least 2 (quartiles need two values)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    workloads = [w["name"] for w in bench["workloads"]]
    if args.workloads:
        workloads = args.workloads.split(",")
    results = {}
    for s in range(args.sets):
        for w in workloads:
            for i in range(args.runs):
                seed = args.seed_base + 1000 * s + i
                results.setdefault(w, {}).setdefault(s, []).append(run(w, seed, bench["run_seconds"], 0))
                if args.trace_overhead and run(w, seed, bench["run_seconds"], 1):
                    with open(os.path.join(build_dir(), "trace", f"e2e-{w}-seed{seed}.json")) as fh:
                        results[w].setdefault("traced", []).append({"metrics": json.load(fh)})
    ok = True
    for w in workloads:
        print(f"\n{w}")
        sets = [[r for r in results[w][s] if r] for s in range(args.sets)]
        if any(len(rs) < len(results[w][s]) for s, rs in enumerate(sets)):
            ok = False
            print("  some runs failed")
        for name, m in metrics.items():
            meds = []
            for s, rs in enumerate(sets):
                med, q1, q3, spread = summary([r["metrics"][name]["value"] for r in rs])
                meds.append(med)
                steady = spread <= m["bound"]
                ok &= steady
                print(f"  set {s + 1} {name:16s} median {med:12.4f} {m['unit']:5s} Q1 {q1:12.4f} Q3 {q3:12.4f} "
                      f"spread {spread:.3f} (bound {m['bound']}, target < {m['bound'] / 3:.3f})"
                      f"{'' if steady else '  TOO WIDE'}")
            if len(meds) == 2:
                diff = (meds[1] - meds[0]) / meds[0]
                agree = abs(diff) <= m["bound"]
                ok &= agree
                print(f"        {name:16s} set 2 vs set 1: {diff:+.3f} (bound {m['bound']} either way)"
                      f"{'' if agree else '  DISAGREE'}")
        shares = [sorted({r["failed"] / r["attempted"] for r in rs}) for rs in sets]
        print(f"  failed share per set: {shares}")
        ok &= all(len(sh) == 1 for sh in shares) and len({sh[0] for sh in shares}) == 1
        traced = results[w].get("traced", [])
        if traced:
            for name, m in metrics.items():
                t = statistics.median(r["metrics"][name]["value"] for r in traced)
                u = statistics.median(r["metrics"][name]["value"] for r in sets[0])
                print(f"  tracing overhead {name:16s} traced {t:12.4f} - untraced {u:12.4f} = {t - u:+.4f} {m['unit']}"
                      f" ({(t - u) / u:+.3f})")
    out = os.path.join(build_dir(), f"steady-{int(time.time())}.json")
    with open(out, "w") as fh:
        json.dump(results, fh)
    print(f"\n{'steady' if ok else 'NOT steady'}; raw results in {os.path.relpath(out, ROOT)}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
