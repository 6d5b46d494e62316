"""Run one workload on several seeds and report each metric's median
and quartile spread (Q3 - Q1 as a share of the median), the figure
that decides whether the benchmark is steady enough for its bounds.

    python3 perfbench/spread.py --workload ingest --seeds 1-10 [--seconds 15] [--trace 0]

Runs are sequential; each result line is also appended to
``.perfbench-work/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (Q3 - Q1) / median) with ``statistics.quantiles(n=4)``."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = args.seconds or bench["run_seconds"]
    log_path = os.path.join(ROOT, ".perfbench-work", f"spread-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    results = []
    for seed in seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        results.append(result)
        with open(log_path, "a") as f:
            f.write(json.dumps({"seed": seed, **result}) + "\n")
        print(f"seed {seed}: correct={result['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
    if len(results) < 2:
        return 0
    for name in results[0]["metrics"]:
        med, sp = spread([r["metrics"][name]["value"] for r in results])
        bound = bounds.get(name)
        verdict = "" if bound is None else f" bound={bound} {'ok' if sp < bound / 3 else 'WIDE'}"
        print(f"{name:32s} median={med:.4g} spread={sp:.3f}{verdict}")
    return 0 if all(r["correct"] for r in results) else 1


if __name__ == "__main__":
    sys.exit(main())
