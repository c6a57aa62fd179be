"""Steadiness check: two sets of runs of the same commit, per workload.

    python3 perfbench/steady.py [--runs 5] [--workloads letter_index,near_dup]

Run from the repository root. Each set runs the ``BENCHMARK.json`` command
once per seed (seeds 1..runs, the same in both sets) on every workload
``BENCHMARK.json`` lists (or those named; ``near_dup`` runs the same way),
each run in its own process, one at a time. For every workload and
end-to-end metric it prints each set's median and quartiles, the spread
(interquartile range over the median), and whether the two sets agree:
the two medians differ, either way, by at most the metric's bound (as a
share of the first), and both spreads are within the bound.
The share of failed operations must also be equal. Raw results go to
``.perfbench_results/steady.json``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(bench: dict, workload: str, seed: int, trace: int = 0) -> dict:
    """One run of the benchmark command; its result line plus wall time."""
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["wall_s"] = wall
    return result


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def summarize(bench: dict, sets: list[dict]) -> bool:
    ok = True
    print(f"{'workload':<13} {'metric':<12} {'set':<4} {'median':>10} "
          f"{'q1':>10} {'q3':>10} {'spread':>7}  verdict")
    for w in sets[0]:
        shares = []
        for s in sets:
            att = sum(r["attempted"] for r in s[w])
            shares.append(sum(r["failed"] for r in s[w]) / att)
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            stats = []
            for k, s in enumerate(sets):
                vals = [r["metrics"][name]["value"] for r in s[w]]
                q1, med, q3 = quartiles(vals)
                spread = (q3 - q1) / med
                stats.append((med, spread))
                print(f"{w:<13} {name:<12} {'AB'[k]:<4} {med:>10.4f} {q1:>10.4f} "
                      f"{q3:>10.4f} {spread:>7.3f}")
            (m1, s1), (m2, s2) = stats
            diff = (m2 - m1) / m1
            agree = abs(diff) <= bound and s1 <= bound and s2 <= bound
            third = max(s1, s2) < bound / 3
            ok &= agree
            print(f"{'':<13} {'':<12} {'':<4} B vs A {diff:+.3f} (bound {bound}): "
                  f"{'agree' if agree else 'DISAGREE'}"
                  f"{'' if third else ', spread above a third of the bound'}")
        same = shares[0] == shares[1]
        ok &= same and all(r["correct"] for s in sets for r in s[w])
        print(f"{w:<13} failed share A {shares[0]:.4f} B {shares[1]:.4f}: "
              f"{'equal' if same else 'DIFFERENT'}; all runs correct: "
              f"{all(r['correct'] for s in sets for r in s[w])}")
    return ok


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=5)
    p.add_argument("--workloads", default="")
    args = p.parse_args(argv)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = args.workloads.split(",") if args.workloads else [
        w["name"] for w in bench["workloads"]
    ]
    sets: list[dict] = [{}, {}]
    for k, s in enumerate(sets):
        for w in names:
            s[w] = []
            for seed in range(1, args.runs + 1):
                r = run_once(bench, w, seed)
                s[w].append(r)
                vals = {m: round(v["value"], 4) for m, v in r["metrics"].items()}
                print(f"set {'AB'[k]} {w} seed {seed}: wall {r['wall_s']:.1f}s "
                      f"attempted {r['attempted']} {vals}", flush=True)
    out = ROOT / ".perfbench_results"
    out.mkdir(exist_ok=True)
    (out / "steady.json").write_text(json.dumps(sets, indent=1))
    return 0 if summarize(bench, sets) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
