#!/usr/bin/env python3
"""Run one workload once per seed and report, per end-to-end metric,
the median, the quartiles and their distance as a share of the median
(the spread), next to the bound in BENCHMARK.json.

    python3 pipebench/spread.py --workload bulk_flat --seeds 1 2 3 4 5

Runs are sequential, from the repository root, with the benchmark's
``run_seconds``.  Each run's JSON line is appended to ``--out`` (if
given) so two sets can be compared afterwards.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RAW = ("turns_per_s", "op_s.p50", "ref_s.p50")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--out")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {name: [] for name in bounds}
    # Raw figures from the summary line, reported beside the declared ones.
    raw: dict[str, list[float]] = {name: [] for name in RAW}
    for seed in args.seeds:
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=300)
        lines = res.stdout.strip().splitlines()
        if res.returncode or not lines:
            print(f"seed {seed}: exit {res.returncode}", file=sys.stderr)
            return 1
        summary = lines[0] if len(lines) > 1 else ""
        print(summary, flush=True)
        fields = dict(f.split("=", 1) for f in summary.split() if "=" in f)
        result = json.loads(lines[-1])
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": seed, **result}) + "\n")
        if not result["correct"]:
            print(f"seed {seed}: incorrect output", file=sys.stderr)
            return 1
        for name in bounds:
            values[name].append(result["metrics"][name]["value"])
        for name in RAW:
            raw[name].append(float(fields[name]))
    for name, vals in [*values.items(), *raw.items()]:
        q1, q2, q3 = stats.quartiles(vals)
        print(f"{args.workload} {name}: median={q2:.5g} q1={q1:.5g} q3={q3:.5g} "
              f"spread={stats.spread(vals):.4f} bound={bounds.get(name, '-')}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
