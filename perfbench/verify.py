"""Correctness checks: every result the program wrote or returned is
compared with DuckDB over the same generated files, outside the timed
sections. Each function returns the ids of the ops that failed and
human-readable notes."""

from __future__ import annotations

import datetime as dt
import json

import duckdb


def _canon(x):
    """JSON round trip, so worker results (tuples became lists) and
    DuckDB results compare as the same structure."""
    return json.loads(json.dumps(x, default=str))


def check_etl(res: dict, inputs: str) -> tuple[set[int], list[str]]:
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW trips AS SELECT * FROM read_parquet('{inputs}/trips/*.parquet', union_by_name=true)"
    )

    def day_count(ds: str) -> int:
        d = dt.date.fromisoformat(ds)
        return con.execute(
            "SELECT count(*) FROM trips WHERE pickup_datetime >= ? AND pickup_datetime < ?",
            [dt.datetime.combine(d, dt.time()), dt.datetime.combine(d + dt.timedelta(days=1), dt.time())],
        ).fetchone()[0]

    def top5(ds: str) -> list[list[str]]:
        cutoff = dt.datetime.combine(dt.date.fromisoformat(ds) + dt.timedelta(days=1), dt.time())
        rows = con.execute(
            "SELECT zone, r FROM (SELECT PULocationID AS zone, dense_rank() OVER (ORDER BY count(*) DESC) AS r "
            "FROM trips WHERE pickup_datetime < ? GROUP BY 1) WHERE r <= 5",
            [cutoff],
        ).fetchall()
        return sorted([str(z), str(r)] for z, r in rows)

    failed: set[int] = set()
    notes: list[str] = []
    stored: dict[str, list[str]] = {}
    for row in res["daily_table"]:
        stored.setdefault(row[0], []).append(row[1])
    expected = {ds: day_count(ds) for ds in stored}
    for op in res["ops"]:
        if op.get("probe") or not op["ok"]:
            continue
        ds = op["ds"]
        if op["kind"] == "daily_transactions":
            got = stored.get(ds, [])
            want = expected.get(ds)
            if got != [str(want)]:
                failed.add(op["id"])
                notes.append(f"op {op['id']} daily_transactions {ds}: table holds {got}, expected one row [{want}]")
        else:
            got = sorted(r[:2] for r in res["top_reads"].get(str(op["id"]), []))
            want = top5(ds)
            if got != want:
                failed.add(op["id"])
                notes.append(f"op {op['id']} top_zones {ds}: table holds {got}, expected {want}")
    probe = next(op for op in res["ops"] if op.get("probe"))
    if probe["ok"]:
        want = day_count(probe["ds"])
        good = [[r[0], r[1]] for r in probe["rows"]] == [[probe["ds"], str(want)]]
        notes.append(f"ts_drift probe ran; result {'matches' if good else 'DIFFERS from'} DuckDB ({want})")
        if not good:
            failed.add(probe["id"])
    return failed, notes


def check_query_mix(res: dict, sf_dir: str, tables) -> tuple[set[int], list[str]]:
    from etl_platform_nyc_taxi_spark.queries_registry import ORACLE_SQL
    from verify_local import _types_compatible, df_multiset

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    failed: set[int] = set()
    notes: list[str] = []
    for op in res["ops"]:
        if not op.get("verify") or not op["ok"]:
            continue
        got = res["results"][str(op["id"])]
        rel = con.sql(ORACLE_SQL[op["kind"]])
        cols, rows = df_multiset(list(rel.columns), [tuple(r) for r in rel.fetchall()])
        bad_types = [
            (c, got["types"][c], str(t))
            for c, t in zip(rel.columns, rel.types)
            if c in got["types"] and not _types_compatible(got["types"][c], str(t))
        ]
        if bad_types or _canon([got["cols"], got["rows"]]) != _canon([cols, rows]):
            failed.add(op["id"])
            notes.append(f"op {op['id']} {op['kind']}: differs from ORACLE_SQL (types {bad_types})")
    return failed, notes
