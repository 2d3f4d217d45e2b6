"""Run a workload over several seeds and summarize every metric.

    python3 perfbench/sweep.py --workload lake --seeds 1-10 --seconds 20

Each seed is a separate ``run.py`` process. For every metric the summary gives
the median over the seeds and the spread, the distance between the first and
third quartile as a share of the median (the figure compared with each
metric's bound in BENCHMARK.json). The last line of standard output is the
summary as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    failed = 0
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True, timeout=900)
        elapsed = time.perf_counter() - t0
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}",
                  file=sys.stderr)
            return 1
        out = json.loads(lines[-1])
        failed += out["failed"]
        for name, m in out["metrics"].items():
            values.setdefault(name, []).append(m["value"])
            units[name] = m["unit"]
        print(f"seed {seed}: {elapsed:.1f}s correct={out['correct']} "
              + " ".join(f"{n}={m['value']:.4g}"
                         for n, m in out["metrics"].items()),
              file=sys.stderr)
    summary = {"workload": args.workload, "seeds": args.seeds,
               "failed": failed, "metrics": {}}
    for name, xs in values.items():
        med = statistics.median(xs)
        summary["metrics"][name] = {
            "unit": units[name], "median": med,
            "spread": stats.spread(xs) if len(xs) > 1 and med else None,
            "values": xs}
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
