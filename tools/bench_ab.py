#!/usr/bin/env python3
"""Interleaved A/B of the repo benchmark between two checkouts.

Usage: python3 tools/bench_ab.py PARENT_DIR CHANGE_DIR --workload W --seeds A-B

For each seed in A..B it runs `perfbench/run.py --workload W --seed N
--seconds S --trace 0` once in each checkout, S being BENCHMARK.json's
`run_seconds`. The parent runs first on seed A, the change first on
seed A+1, and so on alternating, so a host that slows down partway
through a set slows both sides alike. Then it prints, per end-to-end
metric of BENCHMARK.json: the parent's and the change's median and
quartiles, the relative change of the medians, how many seed pairs the
change won (strictly better in the metric's direction), and whether the
median gap exceeds the parent's interquartile range. Whether every run
was `correct` is reported too. The tool itself writes nothing inside
either checkout; each run.py builds and runs as usual there. Standard
library only.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(f"[bench_ab] {checkout} seed {seed} failed (exit {p.returncode}):\n"
                         + p.stderr[-2000:] + "\n")
        return {"correct": False, "metrics": {}}
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="A-B (inclusive) or one seed")
    a = p.parse_args()

    bench = json.loads((Path(a.change) / "BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    sides = {"parent": a.parent, "change": a.change}
    runs = {"parent": [], "change": []}
    for i, seed in enumerate(seeds(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run(sides[side], a.workload, seed, seconds)
            r["seed"] = seed
            runs[side].append(r)
            m = r["metrics"].get("op_p50_ms", {}).get("value")
            print(f"[bench_ab] seed {seed} {side}: correct={r['correct']} op_p50_ms={m}",
                  file=sys.stderr, flush=True)

    ok = all(r["correct"] for side in runs.values() for r in side)
    print(f"{a.workload}: seeds {a.seeds}, {len(runs['parent'])} pairs, "
          f"every run correct: {'yes' if ok else 'NO'}")
    print(f"{'metric':<14}{'parent median [q1, q3]':>32}{'change median [q1, q3]':>32}"
          f"{'delta':>9}{'wins':>8}  gap > parent IQR")
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(pa["metrics"][name]["value"], ch["metrics"][name]["value"])
                 for pa, ch in zip(runs["parent"], runs["change"])
                 if name in pa["metrics"] and name in ch["metrics"]]
        if not pairs:
            print(f"{name:<14} no data")
            continue
        par, chg = [x for x, _ in pairs], [y for _, y in pairs]
        pm, cm = statistics.median(par), statistics.median(chg)
        (p1, p3), (c1, c3) = quartiles(par), quartiles(chg)
        wins = sum((y < x) if lower else (y > x) for x, y in pairs)
        delta = (cm - pm) / pm if pm else 0.0
        gap = (pm - cm) if lower else (cm - pm)
        print(f"{name:<14}{f'{pm:.4g} [{p1:.4g}, {p3:.4g}]':>32}{f'{cm:.4g} [{c1:.4g}, {c3:.4g}]':>32}"
              f"{delta:>+9.1%}{f'{wins}/{len(pairs)}':>8}  {'yes' if gap > p3 - p1 else 'no'}")


if __name__ == "__main__":
    main()
