#!/usr/bin/env python3
"""Steadiness and A/B runs of the benchmark.

    python3 perfbench/steady.py [--workloads a,b] [--runs N] [--seed0 S]
                                [--other CHECKOUT]

Runs every workload N times with seeds S..S+N-1 (each a fresh run.py, so a
fresh JVM) and prints, per end-to-end metric, the median, the quartiles
and their spread (q3 - q1) / median, checked against the metric's bound in
BENCHMARK.json. With --other, each seed also runs in a second checkout
(for instance the parent commit), alternating which side runs first, and
the table adds the other side's median and how many pairs this checkout
won in the metric's better direction (ties count for neither). The raw
results go to .bench_work/steady-<time>.json.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402


def run(checkout, workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} failed in {checkout}")
    res = json.loads(lines[-1])
    if not res["correct"]:
        print(f"  {workload} seed {seed}: NOT CORRECT {lines[-2][:600]}", file=sys.stderr)
    return {k: v["value"] for k, v in res["metrics"].items()}, res


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--other", help="a second checkout to alternate with (A/B)")
    a = ap.parse_args()
    metrics = spec["end_to_end"]
    secs = spec["run_seconds"]
    out = {"spec": spec["end_to_end"], "runs": {}}
    ok = True
    for w in a.workloads.split(","):
        mine, other, correct = [], [], True
        for i in range(a.runs):
            seed = a.seed0 + i
            sides = [(ROOT, mine)] + ([(a.other, other)] if a.other else [])
            if i % 2:
                sides.reverse()
            for checkout, acc in sides:
                vals, res = run(checkout, w, seed, secs)
                correct &= res["correct"]
                acc.append(vals)
            print(f"  {w} seed {seed}: " + " ".join(
                f"{k}={v:.4g}" for k, v in mine[-1].items()), file=sys.stderr, flush=True)
        out["runs"][w] = {"this": mine, "other": other}
        print(f"\n{w} ({a.runs} runs, {secs} s each){'' if correct else '  OUTPUT CHECK FAILED'}")
        ok &= correct
        for m in metrics:
            n = m["name"]
            med, q1, q3, rel = stats.spread([r[n] for r in mine])
            flag = "ok" if rel <= m["bound"] else "OVER BOUND"
            if flag != "ok":
                ok = False
            line = (f"  {n:18s} median {med:12.4f} {m['unit']:5s} q1 {q1:12.4f} q3 {q3:12.4f} "
                    f"spread {rel:6.3f} (bound {m['bound']}) {flag}")
            if other:
                omed = stats.spread([r[n] for r in other])[0]
                sign = 1 if m["better"] == "higher" else -1
                wins = sum(1 for x, y in zip(mine, other) if sign * (x[n] - y[n]) > 0)
                line += f" | other median {omed:12.4f}, this wins {wins}/{len(mine)}"
            print(line)
    path = os.path.join(ROOT, ".bench_work", f"steady-{int(time.time())}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    json.dump(out, open(path, "w"))
    print(f"\nraw results: {path}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
