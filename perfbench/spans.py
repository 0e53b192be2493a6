"""Layer spans and Spark counters for the traced benchmark run.

Spans are recorded from the benchmark's own code: it swaps selected
module attributes of the package for timing wrappers (the CLI imports
them at call time, so every call goes through a wrapper) and opens its
own spans around the calls it makes. Spans stay in memory until the run
ends. Spark's job and stage counters come from the driver's status REST
API and are attributed to ops through Spark job groups.
"""

from __future__ import annotations

import calendar
import functools
import importlib
import json
import time
import urllib.request
from collections import defaultdict


class Tracer:
    """In-memory span recorder: ``[name, start, end, parent, op]`` rows,
    times from ``time.time()`` so they line up with Spark's job clock."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self.op: int | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object, object]] = []

    def span(self, name: str):
        return _Span(self, name)

    def add_patch(self, owner: object, attr: str, name) -> None:
        """Register a wrapper for ``owner.attr``; ``name`` is a span name
        or a function of the call's first argument returning one."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            label = name(args[0]) if callable(name) else name
            with self.span(label):
                return original(*args, **kwargs)

        self._patches.append((owner, attr, original, wrapper))

    def install(self) -> None:
        for owner, attr, _, wrapper in self._patches:
            setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, original, _ in self._patches:
            setattr(owner, attr, original)

    def self_times(self) -> list[tuple[str, int | None, float]]:
        """``(name, op, self seconds)`` per span: its duration minus the
        time its direct children cover (children of one span never
        overlap: the client is single-threaded)."""
        child = [0.0] * len(self.spans)
        for name, t0, t1, parent, op in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        return [(s[0], s[4], s[2] - s[1] - child[i]) for i, s in enumerate(self.spans)]


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        parent = t._stack[-1] if t._stack else None
        self.idx = len(t.spans)
        t.spans.append([self.name, time.time(), None, parent, t.op])
        t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        t.spans[self.idx][2] = time.time()
        t._stack.pop()
        return False


def install_layer_wrappers(tracer: Tracer) -> None:
    """Wrap the public entry points of the ETL layers (see README.md)."""
    # Submodules by name: the packages re-export same-named functions.
    pkg = "etl_platform_nyc_taxi_spark."
    session, parquet, jdbc, daily_transactions, top_zones, runner = (
        importlib.import_module(pkg + m)
        for m in ("session", "sources.parquet", "sources.jdbc", "plans.daily_transactions",
                  "plans.top_zones", "plans.runner")
    )

    tracer.add_patch(session, "get_spark", "session.get_spark")
    tracer.add_patch(parquet, "read_parquet_auto", "sources.parquet.read_auto")
    tracer.add_patch(jdbc, "ensure_table", "sources.jdbc.ensure_table")
    tracer.add_patch(jdbc, "write_jdbc_upsert", "sources.jdbc.upsert")
    tracer.add_patch(jdbc, "write_jdbc_overwrite", "sources.jdbc.overwrite")
    tracer.add_patch(daily_transactions, "daily_transactions", "plans.daily_transactions.build")
    tracer.add_patch(top_zones, "top_k_zones", "plans.top_zones.build")
    tracer.add_patch(runner, "wait_for", "plans.runner.wait_for")
    tracer.add_patch(runner.Step, "run", lambda step: f"plans.runner.{step.name}")


def _epoch(ts: str | None) -> float | None:
    """Spark REST time (``2024-01-01T00:00:00.123GMT``) → epoch seconds."""
    if not ts:
        return None
    base, frac = ts[:19], ts[20:23]
    return calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S")) + int(frac) / 1000.0


def spark_counters(spark) -> dict[int, dict]:
    """Per-op Spark counters from the status REST API, keyed by the op id
    set as job group. Stages count once, under the first job that lists
    them; skipped stages are not counted."""
    sc = spark.sparkContext
    try:  # let the listener bus deliver the last job/stage events
        sc._jsc.sc().listenerBus().waitUntilEmpty(5000)
    except Exception:  # noqa: BLE001 - private API; fall back to a pause
        time.sleep(1.0)
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path: str) -> list:
        with urllib.request.urlopen(f"{base}/{path}", timeout=30) as r:
            return json.load(r)

    jobs = [j for j in get("jobs") if (j.get("jobGroup") or "").isdigit()]
    stages = defaultdict(list)
    for s in get("stages"):
        stages[s["stageId"]].append(s)
    out: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    seen: set[int] = set()
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        op = int(j["jobGroup"])
        c = out[op]
        c["jobs"] += 1
        c["tasks"] += j.get("numCompletedTasks", 0)
        t0, t1 = _epoch(j.get("submissionTime")), _epoch(j.get("completionTime"))
        if t0 is not None and t1 is not None:
            c.setdefault("intervals", []).append((t0, t1))
        for sid in j.get("stageIds", []):
            if sid in seen:
                continue
            attempts = [a for a in stages.get(sid, []) if a.get("status") == "COMPLETE"]
            if not attempts:
                continue
            seen.add(sid)
            c["stages"] += 1
            for a in attempts:
                c["input_bytes"] += a.get("inputBytes", 0)
                c["shuffle_read_bytes"] += a.get("shuffleReadBytes", 0)
                c["shuffle_write_bytes"] += a.get("shuffleWriteBytes", 0)
                c["spill_bytes"] += a.get("diskBytesSpilled", 0)
                c["executor_run_s"] += a.get("executorRunTime", 0) / 1000.0
                c["jvm_gc_s"] += a.get("jvmGcTime", 0) / 1000.0
    return {op: dict(c) for op, c in out.items()}


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
