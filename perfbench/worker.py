"""One benchmark run inside a fresh process.

Started by ``run.py`` with a JSON config path. Prints ``READY`` the
moment ``session.get_spark()`` returns (the parent times set-up from
process start to that line), then runs the first op, the untimed
verification work, and the timed closed loop, and writes the raw
timings, the results to verify and (traced runs) the spans and Spark
counters to the result file.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import sys
import time
import traceback

import spans as tr

#: query_mix: registry queries by the layer that does most of their work.
#: The first is the flagship query; it always opens the cold first pass,
#: so the first-op time compares across seeds.
QUERY_LAYERS = {
    "daily_transactions": "plans",
    "union_slices": "operators.core",
    "agg_cube": "operators.analytics",
    "join_anti": "operators.joins",
    "window_topk_per_group": "operators.windows",
    "sql_tpch_q3": "sql",
    "text_stats": "operators.text",
    "weighted_sample_pps": "operators.sampling",
    "ewma_smooth": "operators.scans",
    "csv_quarantine_stats": "sources.formats",
    "streaming_daily_counts": "streaming",
}

#: Nominal length of one warm pass on the 4-vCPU host that sized the
#: benchmark; ``--seconds`` buys ``round(seconds / pass length)`` passes.
ETL_PASS_S, QUERY_PASS_S = 10.0, 5.0

DAILY_TABLE, TOP_TABLE, DRIFT_TABLE = "daily_transaction", "daily_topfive_taxi_zone", "daily_transaction_drift"
DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
TICK = os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[float, float]:
    """Host-wide busy (user, nice, system, irq, softirq) and stolen CPU
    seconds so far (/proc/stat)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return (v[0] + v[1] + v[2] + v[5] + v[6]) / TICK, v[7] / TICK


class Run:
    """Shared op bookkeeping: timings, failures, optional tracing."""

    def __init__(self, spark, cfg: dict, tracer: tr.Tracer | None) -> None:
        self.spark, self.cfg, self.tracer = spark, cfg, tracer
        self.ops: list[dict] = []

    def span(self, traced: bool, name: str):
        return self.tracer.span(name) if traced else contextlib.nullcontext()

    def op(self, kind: str, fn, traced: bool = False) -> dict:
        """Run one op; record its wall time, the host's busy and stolen CPU
        time during it, and any exception."""
        rec = {"id": len(self.ops), "kind": kind, "traced": traced, "ok": True}
        self.ops.append(rec)
        if traced:
            self.tracer.op = rec["id"]
            self.spark.sparkContext.setJobGroup(str(rec["id"]), kind)
        rec["t0"] = time.time()
        c0 = cpu_ticks()
        t = time.perf_counter()
        try:
            rec.update(fn() or {})
        except Exception as exc:  # noqa: BLE001 - a failed op is a measurement
            rec["ok"] = False
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:400]}"
            traceback.print_exc(file=sys.stderr)
        rec["dt"] = time.perf_counter() - t
        rec["cpu_s"], rec["steal_s"] = (b - a for a, b in zip(c0, cpu_ticks()))
        rec["t1"] = time.time()
        if traced:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            self.tracer.op = None
        return rec

    def timed_loop(self, passes, run_pass, pass_s: float) -> dict:
        """Closed loop, one client, over whole passes: as many as take
        ``seconds`` at the workload's nominal pass length ``pass_s``
        (measured on the host that sized the benchmark), at least one.
        The op set is fixed by the run length, never by how fast this
        run happens to go, so every run of a workload times the same ops.
        A traced run alternates untraced and traced passes and runs twice
        as many; the tracing overhead is the difference of the interleaved
        samples. ``run_pass`` returns the untimed seconds it spent reading
        results back."""
        n_passes = max(1, round(self.cfg["seconds"] / pass_s)) * (2 if self.tracer else 1)
        start, paused = time.perf_counter(), 0.0
        for n in range(n_passes):
            traced = bool(self.tracer) and n % 2 == 1
            if traced:
                self.tracer.install()
            try:
                paused += run_pass(next(passes), traced)
            finally:
                if traced:
                    self.tracer.uninstall()
        return {"timed_wall_s": time.perf_counter() - start - paused, "passes": n_passes}


def run_etl(run: Run) -> dict:
    from etl_platform_nyc_taxi_spark import __main__ as cli
    from etl_platform_nyc_taxi_spark.sources.jdbc import JdbcConfig, execute_statement, read_jdbc

    cfg, spark = run.cfg, run.spark
    man = cfg["manifest"]
    url = f"jdbc:derby:{cfg['run_dir']}/sink;create=true"
    jdbc = JdbcConfig(url=url, driver=DERBY_DRIVER)
    trips = f"{cfg['inputs']}/trips"

    def job(name: str, ds: str, table: str, data: str = trips, traced: bool = False):
        argv = [name, ds, data, url, table, "--retries", "0",
                "--poke-interval", "0.05", "--sensor-timeout", "5"]

        def call():
            with run.span(traced, "cli.main"):
                cli.main(argv, spark=spark)
            return {"ds": ds}

        return run.op(name, call, traced)

    def read_table(table: str) -> list[list]:
        return [[str(v) for v in r] for r in read_jdbc(spark, jdbc, table).collect()]

    days = man["days"]
    first = job("daily_transactions", days[0], DAILY_TABLE)
    first["first"] = True

    # Timestamp-precision drift probe: one month at TIMESTAMP(NANOS).
    probe = job("daily_transactions", days[0], DRIFT_TABLE, data=f"{cfg['inputs']}/trips_ns")
    probe["probe"] = "ts_drift"
    if probe["ok"]:
        probe["rows"] = read_table(DRIFT_TABLE)

    top_reads: dict[int, list] = {}

    def passes():
        # A pass upserts every day of the list (the replay included) and
        # rewrites the ranking after the first, third and fifth: five daily
        # and three top-zones ops, so the median op is a daily op.
        while True:
            yield [op for i, ds in enumerate(days)
                   for op in [("daily_transactions", ds)] + [("top_zones", ds)] * (i % 2 == 0)]

    def run_pass(ops: list[tuple[str, str]], traced: bool) -> float:
        paused = 0.0
        for name, ds in ops:
            table = DAILY_TABLE if name == "daily_transactions" else TOP_TABLE
            rec = job(name, ds, table, traced=traced)
            if name == "top_zones" and rec["ok"]:
                t = time.perf_counter()
                top_reads[rec["id"]] = read_table(TOP_TABLE)
                paused += time.perf_counter() - t
        return paused

    # Untimed warm-up pass: the JIT is still compiling the job paths for
    # the first dozen ops, and their CPU time falls op by op.
    n = len(run.ops)
    warm = passes()
    run_pass(next(warm), False)
    for op in run.ops[n:]:
        op["warmup"] = True

    loop = run.timed_loop(warm, run_pass, pass_s=ETL_PASS_S)
    if cfg.get("tamper"):
        # Self-check only: corrupt one stored count before verification.
        execute_statement(
            spark, jdbc,
            f'UPDATE {DAILY_TABLE} SET "total_transactions" = "total_transactions" + 1 '
            f"WHERE \"transaction_date\" = CAST('{days[0]}' AS DATE)",
        )
    return {**loop, "daily_table": read_table(DAILY_TABLE), "top_reads": top_reads}


def run_query_mix(run: Run) -> dict:
    import __spark_entry__ as entry
    from verify_local import df_multiset

    cfg, spark = run.cfg, run.spark
    sf_dir = f"{cfg['inputs']}/sf"
    queries = entry.queries()
    rng = random.Random(cfg["seed"])

    def noop(name: str, traced: bool = False) -> dict:
        def call():
            t = time.perf_counter()
            with run.span(traced, "query.build"):
                df = queries[name](spark, sf_dir)
            t_build = time.perf_counter()
            with run.span(traced, "query.exec"):
                df.write.format("noop").mode("overwrite").save()
            return {"build_s": t_build - t, "exec_s": time.perf_counter() - t_build}

        return run.op(name, call, traced)

    # Cold first pass, outside the timed loop: every query once, collected
    # for verification; this is also the warm-up. Its first op is the first op.
    names = list(QUERY_LAYERS)
    cold = names[:1] + rng.sample(names[1:], len(names) - 1)
    results: dict[str, dict] = {}
    for name in cold:
        def collect(name=name):
            df = queries[name](spark, sf_dir)
            cols, rows = df_multiset(df.columns, [tuple(r) for r in df.collect()])
            types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
            return {"result": {"cols": cols, "rows": rows, "types": types}}

        rec = run.op(name, collect)
        rec["verify"] = True
        if rec["ok"]:
            results[str(rec["id"])] = rec.pop("result")
    run.ops[0]["first"] = True

    def passes():
        while True:
            rng.shuffle(names)
            yield list(names)

    def run_pass(names: list[str], traced: bool) -> float:
        for name in names:
            noop(name, traced)
        return 0.0

    loop = run.timed_loop(passes(), run_pass, pass_s=QUERY_PASS_S)
    return {**loop, "results": results}


def main(cfg_path: str) -> int:
    with open(cfg_path) as f:
        cfg = json.load(f)
    tracer = tr.Tracer() if cfg["trace"] else None
    from etl_platform_nyc_taxi_spark import session

    if tracer:
        tr.install_layer_wrappers(tracer)
        tracer.install()
    spark = session.get_spark("perfbench")
    if tracer:
        tracer.uninstall()
    print("READY", flush=True)
    spark.sparkContext.setLogLevel("ERROR")
    run = Run(spark, cfg, tracer)
    try:
        out = (run_etl if cfg["workload"] == "etl_daily" else run_query_mix)(run)
        out["ops"] = run.ops
        if tracer:
            out["spans"] = tracer.spans
            out["self_times"] = tracer.self_times()
            out["spark"] = {str(k): v for k, v in tr.spark_counters(spark).items()}
            out["cores"] = spark.sparkContext.defaultParallelism
        with open(cfg["result"], "w") as f:
            json.dump(out, f, default=str)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
