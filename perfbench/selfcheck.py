"""Self-check of the benchmark at tiny sizes (about four minutes).

    python3 perfbench/selfcheck.py

Run from the checkout root. Asserts that every metric prints by name with
its unit, that a clean run verifies every op, that a count tampered in
the Derby sink before verification is reported as a failed op, that the
traced run emits every per-layer metric, and that the benchmark exits
non-zero without a result when the package is absent.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
#: Every end-to-end metric a run prints, bounded or not (README.md).
PRINTED = ["setup_s", "setup_wall_s", "first_op_s", "first_op_cpu_s", "op_s.p50", "op_cpu_s.p50", "op_s.p90",
           "ops_per_s", "ops_per_cpu_s", "peak_rss_mb", "error_rate"]


def bench(*extra: str) -> tuple[int, list[str]]:
    argv = [sys.executable, os.path.join(HERE, "run.py"), "--seed", "1", "--seconds", "1", "--tiny", *extra]
    out = subprocess.run(argv, capture_output=True, text=True, timeout=600, check=False)
    return out.returncode, out.stdout.strip().splitlines()


def check(cond: bool, what: str) -> None:
    print(("ok    " if cond else "FAIL  ") + what, flush=True)
    if not cond:
        raise SystemExit(1)


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    for workload in ("etl_daily", "query_mix"):
        rc, lines = bench("--workload", workload, "--trace", "0")
        res = json.loads(lines[-1])
        check(rc == 0 and res["correct"] and res["failed"] == 0, f"{workload}: every op verifies")
        for name in PRINTED:
            check(any(ln.startswith(f"metric {name} = ") for ln in lines), f"{workload}: prints {name}")
        for m in spec["end_to_end"]:
            got = res["metrics"][m["name"]]
            check(got["unit"] == m["unit"] and got["value"] > 0, f"{workload}: {m['name']} in {m['unit']}")
        if workload == "etl_daily":
            check(any(ln.startswith("probe ts_drift: ") for ln in lines), "etl_daily: drift probe reported")

    rc, lines = bench("--workload", "etl_daily", "--trace", "0", "--tamper")
    res = json.loads(lines[-1])
    check(rc == 0 and not res["correct"] and res["failed"] >= 1, "etl_daily: tampered count is a failed op")

    for workload in ("etl_daily", "query_mix"):
        rc, lines = bench("--workload", workload, "--trace", "1")
        res = json.loads(lines[-1])
        names = {m["name"] for m in spec["per_layer"]}
        check(rc == 0 and set(res["metrics"]) == names, f"{workload}: traced run emits every per-layer metric")
        check(all(v["unit"] == units[k] for k, v in res["metrics"].items()), f"{workload}: per-layer units")

    bare = os.path.join(".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy("BENCHMARK.json", bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "etl_daily", "--seed", "1",
                          "--seconds", "1", "--trace", "0"], cwd=bare, capture_output=True, text=True,
                         timeout=180, check=False)
    shutil.rmtree(bare, ignore_errors=True)
    check(out.returncode != 0 and '"correct"' not in out.stdout, "without the package: non-zero exit, no result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
