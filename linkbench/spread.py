"""Run-to-run spread of the benchmark's metrics over repeated runs.

    python3 linkbench/spread.py --workload cc_checkpoint_resume --seeds 1 2 3 4 5
    python3 linkbench/spread.py --workload transcript_pagerank --seeds 7 7 --trace 1

Runs ``run.py`` once per seed (sequentially, each a fresh process) and
prints, per metric, the median and the quartile spread
(Q3 - Q1) / median from ``statistics.quantiles(values, n=4)``, and
whether it is within a third of the metric's bound in BENCHMARK.json.
With ``--trace 1`` it also checks that the per-layer counts that must
repeat exactly (supersteps, jobs and stages per superstep) do so across
runs of the same seed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EXACT = ("pregel.supersteps", "pregel.jobs_per_superstep", "pregel.stages_per_superstep")


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    rows = []
    for seed in args.seeds:
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        if not result["correct"]:
            print(f"seed {seed}: incorrect output", file=sys.stderr)
            return 1
        rows.append({k: v["value"] for k, v in result["metrics"].items()})
        print(f"seed {seed}: " + ", ".join(f"{k}={v:.4g}" for k, v in rows[-1].items()),
              flush=True)

    if len(rows) >= 2:
        for name in rows[0]:
            vals = [r[name] for r in rows]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            bound = bounds.get(name)
            verdict = "" if bound is None else ("ok" if spread < bound / 3 else "WIDE")
            print(f"{name:45s} median {med:12.5g}  spread {spread:7.3f}  "
                  f"bound {bound}  {verdict}")
    if args.trace:
        for name in EXACT:
            vals = {r[name] for r in rows}
            if len(set(args.seeds)) == 1 and len(vals) != 1:
                print(f"{name} does not repeat across runs of one seed: {sorted(vals)}")
                return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
