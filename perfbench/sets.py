"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/sets.py --workloads pipeline_unique,ops_suite \
        --seeds 1-10 --trace 0 --out perfbench/baseline/set1.jsonl

Runs ``perfbench/run.py`` once per (workload, seed), one at a time, with
``run_seconds`` from BENCHMARK.json.  It appends one JSON line per run to
``--out``, holding the fingerprint, the summary and the result.  For each
metric it prints the median over seeds and the spread: the distance
between the first and third quartile as a share of the median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(text: str) -> list[int]:
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def spread(values: list[float]) -> tuple[float, float]:
    """(median, IQR / median) as ``statistics.quantiles(n=4)`` gives them."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = str(spec["run_seconds"])
    rc = 0
    for w in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        for seed in parse_seeds(args.seeds):
            t0 = time.monotonic()
            p = subprocess.run(
                [*spec["command"], "--workload", w, "--seed", str(seed),
                 "--seconds", seconds, "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True)
            elapsed = time.monotonic() - t0
            lines = p.stdout.strip().split("\n")
            if p.returncode != 0 or len(lines) < 3:
                print(f"{w} seed {seed}: exit {p.returncode}\n"
                      f"{p.stderr[-3000:]}", file=sys.stderr)
                rc = 1
                continue
            fp, summary, result = (json.loads(x) for x in lines[-3:])
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": w, "seed": seed,
                                    "elapsed_s": round(elapsed, 2),
                                    **fp, **summary, "result": result})
                        + "\n")
            for k, m in result["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(f"{w} seed {seed}: {elapsed:.1f} s correct="
                  f"{result['correct']} failed={result['failed']}/"
                  f"{result['attempted']}", flush=True)
        for k, v in values.items():
            if len(v) >= 2 and not k.startswith("ops."):
                med, sp = spread(v)
                print(f"  {w} {k}: median {med:.6g} spread {sp:.4f} "
                      f"(n={len(v)})", flush=True)
    return rc


if __name__ == "__main__":
    sys.exit(main())
