"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload query_mix --seeds 1-10 [--seconds S]

Runs the benchmark once per seed (from the checkout root) and prints, for
every printed end-to-end metric, the median and the quartile distance as
a share of the median; for the metrics in BENCHMARK.json also that share
against a third of the metric's bound.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int)
    args = p.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        out = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(args.seconds or bench["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True, check=False,
        )
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        row = {}
        for ln in lines:  # "metric <name> = <value> <unit> (<note>)"
            parts = ln.split()
            if parts[:1] == ["metric"] and parts[3] != "n/a":
                row[parts[1]] = float(parts[3])
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']} "
              + " ".join(f"{k}={v:.4g}" for k, v in row.items()), flush=True)
        for k, v in row.items():
            values.setdefault(k, []).append(v)
    for name, v in values.items():
        if len(v) < 2:
            continue
        q1, med, q3 = statistics.quantiles(v, n=4)
        share = (q3 - q1) / med if med else float("nan")
        gate = ""
        if name in bounds:
            gate = f" third-of-bound={bounds[name] / 3:.3f} {'ok' if share < bounds[name] / 3 else 'WIDE'}"
        print(f"{name:16s} median={med:.4g} iqr/median={share:.3f}{gate}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
