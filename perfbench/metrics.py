"""End-to-end and per-layer metrics from one worker result.

Every ``*_s`` per-layer metric named after a span is the mean self time
per call of that span (span duration minus its child spans), 0 when the
workload never calls it; Spark counters are means per traced op.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import union_length

#: per-layer metric -> span names whose self times it sums per call.
SPAN_METRICS = {
    "session.get_spark_s": ["session.get_spark"],
    "cli.main_s": ["cli.main"],
    "plans.runner.sense_s": ["plans.runner.sense_input", "plans.runner.wait_for"],
    "plans.runner.compute_and_write_s": ["plans.runner.compute_and_write"],
    "plans.daily_transactions.build_s": ["plans.daily_transactions.build"],
    "plans.top_zones.build_s": ["plans.top_zones.build"],
    "sources.parquet.read_auto_s": ["sources.parquet.read_auto"],
    "sources.jdbc.ensure_table_s": ["sources.jdbc.ensure_table"],
    "sources.jdbc.upsert_s": ["sources.jdbc.upsert"],
    "sources.jdbc.overwrite_s": ["sources.jdbc.overwrite"],
    "query.build_s": ["query.build"],
    "query.exec_s": ["query.exec"],
}
#: per-layer metric -> Spark counter, as a mean per traced op.
SPARK_METRICS = {
    "spark.jobs_per_op": "jobs",
    "spark.stages_per_op": "stages",
    "spark.tasks_per_op": "tasks",
    "sources.parquet.scan_bytes_per_op": "input_bytes",
    "spark.shuffle_write_bytes": "shuffle_write_bytes",
    "spark.shuffle_read_bytes": "shuffle_read_bytes",
    "spark.spill_bytes": "spill_bytes",
    "spark.executor_run_s": "executor_run_s",
    "spark.jvm_gc_s": "jvm_gc_s",
}


def percentile_ok(n: int, q: float) -> bool:
    """A percentile is reported only with at least ten samples beyond it."""
    return n * (1 - q) >= 10


def warm_ops(res: dict, traced: bool = False) -> list[dict]:
    """Ops of the timed loop (not the first op, probe, warm-up or
    verification ops)."""
    untimed = ("first", "probe", "warmup", "verify")
    return [op for op in res["ops"] if not any(op.get(k) for k in untimed) and op["traced"] == traced]


def end_to_end(res: dict, setup_wall_s: float, setup_cpu_s: float, peak_rss_mb: float) -> dict[str, tuple]:
    """name -> (value or None, unit, sample note).

    Wall-clock metrics and their CPU-time twins: CPU seconds are the
    host's busy CPU time during the op (the worker, its JVM and Python
    workers are all the host runs), which the hypervisor's steal does not
    inflate. ``setup_s`` is the CPU-time twin of set-up."""
    warm = [op for op in warm_ops(res) if op["ok"]]
    first = next(op for op in res["ops"] if op.get("first"))
    wall = sorted(op["dt"] for op in warm)
    cpu = sorted(op["cpu_s"] for op in warm)
    n = f"n={len(warm)}"
    out = {
        "setup_s": (setup_cpu_s, "s", "CPU time, n=1 fresh process"),
        "setup_wall_s": (setup_wall_s, "s", "n=1 fresh process"),
        "first_op_s": (first["dt"] if first["ok"] else None, "s", "n=1"),
        "first_op_cpu_s": (first["cpu_s"] if first["ok"] else None, "s", "n=1"),
        "op_s.p50": (statistics.median(wall) if wall else None, "s", n),
        "op_cpu_s.p50": (statistics.median(cpu) if cpu else None, "s", n),
    }
    if percentile_ok(len(wall), 0.9):
        out["op_s.p90"] = (statistics.quantiles(wall, n=10)[-1], "s", n)
    else:
        out["op_s.p90"] = (None, "s", f"{n}; not reported below 100 samples")
    out["ops_per_s"] = (len(warm) / res["timed_wall_s"], "1/s", f"{n} in {res['timed_wall_s']:.2f} s")
    out["ops_per_cpu_s"] = (len(warm) / sum(cpu) if cpu else None, "1/s", f"{n} in {sum(cpu):.2f} CPU s")
    out["peak_rss_mb"] = (peak_rss_mb, "MB", "driver python + its JVM")
    return out


def per_layer(res: dict, query_layers: dict[str, str]) -> dict[str, float]:
    traced = warm_ops(res, traced=True)
    ids = {op["id"] for op in traced}
    calls: dict[str, list[float]] = defaultdict(list)
    for name, op, self_s in res["self_times"]:
        if op in ids or name == "session.get_spark":
            calls[name].append(self_s)
    out: dict[str, float] = {}
    for metric, names in SPAN_METRICS.items():
        n = len(calls[names[0]])  # calls of the primary span; the rest nest in it
        out[metric] = sum(sum(calls[s]) for s in names) / n if n else 0.0
    counters = res.get("spark", {})
    n_ops = max(1, len(traced))
    for metric, key in SPARK_METRICS.items():
        out[metric] = sum(counters.get(str(op["id"]), {}).get(key, 0.0) for op in traced) / n_ops
    no_job = []
    for op in traced:
        jobs = counters.get(str(op["id"]), {}).get("intervals", [])
        no_job.append(op["dt"] - union_length([tuple(i) for i in jobs], op["t0"], op["t1"]))
    out["driver.no_job_s"] = statistics.mean(no_job) if no_job else 0.0
    wall = sum(op["dt"] for op in traced)
    run_s = sum(counters.get(str(op["id"]), {}).get("executor_run_s", 0.0) for op in traced)
    out["spark.core_busy_ratio"] = run_s / (wall * res["cores"]) if wall else 0.0
    by_group = defaultdict(list)
    for op in traced:
        if op["kind"] in query_layers and "exec_s" in op:
            by_group[query_layers[op["kind"]]].append(op["exec_s"])
    for g in dict.fromkeys(query_layers.values()):  # query_mix layer groups
        out[f"{g}.exec_s"] = statistics.mean(by_group[g]) if by_group[g] else 0.0
    top_reads = res.get("top_reads")  # etl_daily only: the JDBC writes read back
    writes = [
        1 if op["kind"] == "daily_transactions" else len(top_reads.get(str(op["id"]), []))
        for op in traced if top_reads is not None and op["ok"]
    ]
    out["sources.jdbc.rows_written"] = statistics.mean(writes) if writes else 0.0
    out["trace.overhead_ratio"] = tracing_overhead(res)
    return out


def tracing_overhead(res: dict) -> float:
    """Median traced op time over median untraced op time, minus one,
    averaged over op kinds (the interleaved passes may mix kinds
    differently)."""
    ratios = []
    for kind in {op["kind"] for op in res["ops"]}:
        t = [op["dt"] for op in warm_ops(res, True) if op["kind"] == kind and op["ok"]]
        u = [op["dt"] for op in warm_ops(res, False) if op["kind"] == kind and op["ok"]]
        if t and u:
            ratios.append(statistics.median(t) / statistics.median(u) - 1)
    return statistics.mean(ratios) if ratios else 0.0
