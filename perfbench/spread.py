#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload pipeline --seeds 1-10 [--trace 0]

Runs run.py once per seed and prints, per metric, the median and the
distance between the first and third quartiles
(statistics.quantiles(values, n=4)) as a share of the median, next to
the metric's bound in BENCHMARK.json. Results go to stdout as one JSON
line per run, then the summary table.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    values = {}
    for seed in seeds(a.seeds):
        out = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", a.workload, "--seed",
             str(seed), "--seconds", str(spec["run_seconds"]), "--trace", str(a.trace)],
            cwd=HERE.parent, capture_output=True, text=True)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
            continue
        line = json.loads(out.stdout.strip().splitlines()[-1])
        print(json.dumps({"seed": seed, **line}), flush=True)
        for name, m in line["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    print(f"{'metric':28} {'n':>3} {'median':>12} {'iqr/median':>10} {'bound':>6}")
    for name, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else float("nan")
        print(f"{name:28} {len(vs):3} {med:12.4f} {spread:10.4f} {bounds.get(name) or '':>6}")


if __name__ == "__main__":
    main()
