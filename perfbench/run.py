"""Benchmark entry point.

    python3 perfbench/run.py --workload {etl_daily,query_mix} --seed N \
        --seconds S --trace {0,1}

Run from the root of a source checkout. Generates the workload's inputs
from the seed (cached under ``.perfbench_work/``), measures set-up in
fresh processes, runs the workload in a fresh worker process on
``local[nproc]``, checks every result against DuckDB, prints one line per
metric and, as the last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

from worker import cpu_ticks

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("etl_daily", "query_mix")
#: Hard limit for the worker, so that a run, reaping and verification
#: included, ends within 180 s.
DEADLINE_S = 150.0
PAGE = os.sysconf("SC_PAGE_SIZE")


def host_facts() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024,
            "loadavg": os.getloadavg(), "cpu": cpu}


def steal_share(a: dict, b: dict) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    host_facts() snapshots (the ``steal`` column of /proc/stat)."""
    d = [y - x for x, y in zip(a["cpu"], b["cpu"])]
    return d[7] / max(1, sum(d))


class Child:
    """A child process in its own session: timed (wall clock and host CPU)
    from spawn to its ``READY`` line, RSS-sampled with its direct
    children, and reaped with every process of its group."""

    def __init__(self, argv: list[str], env: dict, cwd: str, log: str) -> None:
        self.log = open(log, "ab")
        self.cpu0 = cpu_ticks()[0]
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            argv, env=env, cwd=cwd, stdout=subprocess.PIPE, stderr=self.log, start_new_session=True
        )
        self.ready_s: float | None = None
        self.ready_cpu_s: float | None = None
        self.peak_rss = 0
        self._done = threading.Event()
        self._threads = [threading.Thread(target=self._read, daemon=True),
                         threading.Thread(target=self._sample, daemon=True)]
        for t in self._threads:
            t.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            if self.ready_s is None and line.strip() == b"READY":
                self.ready_s = time.perf_counter() - self.t0
                self.ready_cpu_s = cpu_ticks()[0] - self.cpu0
            else:
                self.log.write(line)

    def _rss(self) -> int:
        # The JVM is forked by the worker's main thread, so its children
        # list is enough (scanning every thread would cost real CPU).
        pid = self.proc.pid
        try:
            with open(f"/proc/{pid}/task/{pid}/children") as f:
                pids = [pid, *map(int, f.read().split())]
        except OSError:
            return 0
        total = 0
        for p in pids:
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * PAGE
            except OSError:
                pass
        return total

    def _sample(self) -> None:
        while not self._done.wait(0.1):
            self.peak_rss = max(self.peak_rss, self._rss())

    def wait(self, deadline: float) -> int:
        try:
            rc = self.proc.wait(timeout=max(1.0, deadline - time.perf_counter()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            self._done.set()
            self._reap()
            for t in self._threads:
                t.join(timeout=10)
            self.log.close()
        if rc is None:
            raise RuntimeError(f"{self.proc.args[1]} exceeded the run deadline")
        return rc

    def _reap(self) -> None:
        """Kill and await every process left in the child's group."""
        pgid = self.proc.pid
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        end = time.perf_counter() + 20
        while time.perf_counter() < end and _group_alive(pgid):
            time.sleep(0.05)


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def child_env(root: str, run_dir: str, facts: dict) -> dict:
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_MASTER", "PYSPARK_DRIVER_PYTHON")}
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update(
        SPARK_GRAFT_CPUS=str(facts["nproc"]),
        SPARK_GRAFT_LOCAL="1",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        # Below physical RAM (the engine default of 20g is sized for a
        # larger box); the host is shared, so take a quarter, at most 4g.
        SPARK_GRAFT_DRIVER_MEM=f"{max(1, min(4, facts['mem_total_mb'] // 4096))}g",
        PYTHONPATH=os.pathsep.join([root, os.path.join(root, "tools")]),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
    )
    return env


def run(args: argparse.Namespace, root: str, spec: dict) -> dict:
    """One benchmark run; prints its report lines and returns the result."""
    import gen
    import metrics
    import verify
    from worker import QUERY_LAYERS

    work = os.path.join(root, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    deadline = time.perf_counter() + DEADLINE_S
    log = os.path.join(run_dir, "children.log")
    facts = host_facts()
    lines = [f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}",
             f"host start nproc={facts['nproc']} mem_total_mb={facts['mem_total_mb']} "
             f"loadavg={' '.join(f'{x:.2f}' for x in facts['loadavg'])}"]
    try:
        t = time.perf_counter()
        inputs, manifest = gen.cached_inputs(os.path.join(work, "cache"), args.workload, args.seed,
                                             tiny=args.tiny)
        lines.append(f"inputs {json.dumps(manifest)} prepare_s={time.perf_counter() - t:.2f} (not timed)")
        env = child_env(root, run_dir, facts)
        cfg = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": args.trace, "tamper": args.tamper, "inputs": inputs, "manifest": manifest,
               "run_dir": run_dir, "result": os.path.join(run_dir, "result.json")}
        with open(os.path.join(run_dir, "config.json"), "w") as f:
            json.dump(cfg, f)
        w = Child([sys.executable, os.path.join(HERE, "worker.py"), os.path.join(run_dir, "config.json")],
                  env, run_dir, log)
        rc = w.wait(deadline)
        if rc != 0 or w.ready_s is None or not os.path.exists(cfg["result"]):
            raise RuntimeError(f"worker exited with {rc}")
        with open(cfg["result"]) as f:
            res = json.load(f)
        shutil.copy(cfg["result"], os.path.join(work, f"result-{args.workload}.json"))

        if args.workload == "etl_daily":
            failed, notes = verify.check_etl(res, inputs)
        else:
            from etl_platform_nyc_taxi_spark.schema import FIXTURE_TABLES

            failed, notes = verify.check_query_mix(res, os.path.join(inputs, "sf"), FIXTURE_TABLES)
        for op in res["ops"]:
            if not op["ok"]:
                failed.add(op["id"])
                notes.append(f"op {op['id']} {op['kind']} raised {op['error']}")
        probe = next((op for op in res["ops"] if op.get("probe")), None)
        counted = [op for op in res["ops"] if op is not probe]
        n_failed = sum(op["id"] in failed for op in counted)

        e2e = metrics.end_to_end(res, w.ready_s, w.ready_cpu_s, w.peak_rss / 2**20)
        probe_failed = probe is not None and probe["id"] in failed
        e2e["error_rate"] = (
            (n_failed + probe_failed) / (len(counted) + (probe is not None)), "ratio",
            f"{n_failed + probe_failed} of {len(counted) + (probe is not None)} ops"
            + (", ts_drift probe included" if probe else ""),
        )
        lines.append("untimed ops: " + " ".join(
            f"{op['kind']}={op['dt']:.2f}" for op in res["ops"] if op not in metrics.warm_ops(res, op["traced"])))
        for name, (value, unit, note) in e2e.items():
            shown = "n/a" if value is None else f"{value:.6g}"
            lines.append(f"metric {name} = {shown} {unit} ({note})")
        if probe is not None:
            state = "FAILED (known defect, kept visible)" if probe_failed else "passed"
            lines.append(f"probe ts_drift: {state}: {' '.join(probe.get('error', '').split())[:240]}")
        lines += [f"verify: {n}" for n in notes if not (probe and n.startswith(f"op {probe['id']} "))]
        lines.append(f"verify: {len(counted) - n_failed} of {len(counted)} ops verified")

        if args.trace:
            layer = metrics.per_layer(res, QUERY_LAYERS)
            for name, value in layer.items():
                lines.append(f"layer {name} = {value:.6g}")
            with open(os.path.join(work, f"trace-{args.workload}.json"), "w") as f:
                json.dump({"spans": res["spans"], "spark": res["spark"]}, f)
            values = {name: (v, None) for name, v in layer.items()}
        else:
            values = e2e
        wanted = spec["per_layer" if args.trace else "end_to_end"]
        missing = [m["name"] for m in wanted if values.get(m["name"], (None,))[0] is None]
        if missing:
            raise RuntimeError(f"metrics missing: {missing}")
        out_metrics = {m["name"]: {"value": values[m["name"]][0], "unit": m["unit"]} for m in wanted}
        end = host_facts()
        lines.append(f"host end loadavg={' '.join(f'{x:.2f}' for x in end['loadavg'])} "
                     f"cpu_steal_share={steal_share(facts, end):.3f}")
        return {"correct": n_failed == 0, "attempted": len(counted), "failed": n_failed, "metrics": out_metrics}
    except BaseException:
        if os.path.exists(log):
            with open(log, errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
        raise
    finally:
        sys.stdout.write("\n".join(lines) + "\n")
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help=argparse.SUPPRESS)
    p.add_argument("--tamper", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "etl_platform_nyc_taxi_spark", "__init__.py")):
        print("perfbench: run from the root of a source checkout (package not found)", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [HERE, root, os.path.join(root, "tools")]
    # A terminated run still reaps its worker (Child.wait's finally).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    try:
        result = run(args, root, spec)
    except Exception as exc:  # noqa: BLE001 - report and fail without a result line
        print(f"perfbench: run failed: {type(exc).__name__}: {exc}", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
