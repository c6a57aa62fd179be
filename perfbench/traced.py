"""Traced run: per-layer metrics, span self times and tracing overhead.

    python3 perfbench/traced.py --workload letter_index [--seed 1]

Run from the repository root. Runs the ``BENCHMARK.json`` command twice
with the same seed, untraced then traced, and prints every per-layer
metric of the traced run, the self time of each span name (a span's
duration minus the part its child spans cover), and the tracing overhead:
``trace.op_p50_s`` of the traced run minus ``op_p50_s`` of the untraced
one. The spans themselves are in ``.perfbench_trace/<workload>-seed<n>.json``.
"""

from __future__ import annotations

import argparse
import json
import sys
from collections import defaultdict

from steady import ROOT, run_once


def span_table(spans: list[dict]) -> dict[tuple[str, str], list[float]]:
    """(phase, name) -> [count, total seconds, self seconds]."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    table: dict = defaultdict(lambda: [0, 0.0, 0.0])
    for i, s in enumerate(spans):
        row = table[(s["phase"], s["name"])]
        dur = s["end"] - s["start"]
        row[0] += 1
        row[1] += dur
        row[2] += dur - child[i]
    return table


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args(argv)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    plain = run_once(bench, args.workload, args.seed)
    traced = run_once(bench, args.workload, args.seed, trace=1)
    print(f"{args.workload} seed {args.seed}: per-layer metrics (traced run)")
    for m in bench["per_layer"]:
        v = traced["metrics"][m["name"]]
        print(f"  {m['name']:<26} {v['value']:>14.4f} {v['unit']}")
    trace = json.loads(
        (ROOT / ".perfbench_trace" / f"{args.workload}-seed{args.seed}.json").read_text()
    )
    print("spans: phase/name, count, total s, self s")
    for (phase, name), (n, total, own) in sorted(span_table(trace["spans"]).items()):
        print(f"  {phase + '/' + name:<42} {n:>4} {total:>9.3f} {own:>9.3f}")
    base = plain["metrics"]["op_p50_s"]["value"]
    with_trace = traced["metrics"]["trace.op_p50_s"]["value"]
    print(f"tracing overhead: op_p50_s {base:.4f}s untraced, {with_trace:.4f}s "
          f"traced, difference {with_trace - base:+.4f}s "
          f"({(with_trace - base) / base:+.1%})")
    return 0 if plain["correct"] and traced["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
