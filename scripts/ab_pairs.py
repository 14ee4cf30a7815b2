#!/usr/bin/env python3
"""Run ixbench in two checkouts in alternating pairs and compare them.

    python3 scripts/ab_pairs.py PARENT CHANGE --workload lookup --seeds 1 2 3 --seconds 5

For each seed, one pair: `python3 ixbench/run.py --workload W --seed S
--seconds N --trace 0` from the root of PARENT and of CHANGE, one after the
other; the pair's order alternates (the first pair runs PARENT first), so a
drift of the host over the whole run falls on both sides alike. Prints, per
pair and as the median over pairs, `pass_p50_ms`, `reference_p50_ms` and
`pass_p50_rel` for each side and the change's ratio to the parent, then
the medians of the run's other end-to-end metrics. A run
that fails (non-zero exit, or an answer that did not check out) stops the
script with its output.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

FIGURES = ("pass_p50_ms", "reference_p50_ms", "pass_p50_rel")


def run(checkout, workload, seed, seconds):
    """One ixbench run from the root of `checkout`: its figures."""
    cmd = [sys.executable, "ixbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = p.stdout.rstrip("\n").split("\n") if p.stdout else []
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    if p.returncode != 0 or result is None or not result.get("correct"):
        sys.stderr.write(p.stdout + p.stderr)
        sys.exit(f"ab_pairs: {checkout} seed {seed}: run failed (exit {p.returncode})")
    figures = {name: float(m["value"]) for name, m in result["metrics"].items()
               if m.get("value") is not None}
    for line in lines[:-1]:
        parts = line.split()
        if len(parts) >= 2 and parts[0] in FIGURES:
            figures[parts[0]] = float(parts[1])
    missing = [f for f in FIGURES if f not in figures]
    if missing:
        sys.exit(f"ab_pairs: {checkout} seed {seed}: no {', '.join(missing)} in its output")
    return figures


def row(label, parent, change):
    cells = [f"{label:<10}"]
    for f in FIGURES:
        cells.append(f"{parent[f]:>10.3f} {change[f]:>10.3f} {change[f] / parent[f]:>6.3f}x")
    return "  ".join(cells)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent", help="root of the parent checkout")
    ap.add_argument("change", help="root of the changed checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, required=True)
    args = ap.parse_args()
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}

    print(f"{'':<10}  " + "  ".join(f"{f:<29}" for f in FIGURES))
    print(f"{'pair':<10}  " + "  ".join(f"{'parent':>10} {'change':>10} {'ratio':>7}" for _ in FIGURES))
    pairs = []
    for i, seed in enumerate(args.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {side: run(sides[side], args.workload, seed, args.seconds) for side in order}
        pairs.append(got)
        print(row(f"seed {seed}", got["parent"], got["change"]), flush=True)

    median = {side: {f: statistics.median(p[side][f] for p in pairs) for f in FIGURES}
              for side in sides}
    print(row("median", median["parent"], median["change"]))
    lower = sum(p["change"]["pass_p50_rel"] < p["parent"]["pass_p50_rel"] for p in pairs)
    print(f"pass_p50_rel lower on the change in {lower} of {len(pairs)} pairs")
    print("medians of the other end-to-end metrics (parent, change):")
    for f in pairs[0]["parent"]:
        if f not in FIGURES:
            print(f"  {f:<20} {statistics.median(p['parent'][f] for p in pairs):>14.6g}"
                  f" {statistics.median(p['change'][f] for p in pairs):>14.6g}")


if __name__ == "__main__":
    main()
