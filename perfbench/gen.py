"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes
byte-identical parquet and returns the same day list. Inputs are written
under a cache directory keyed by workload and seed, so repeated runs with
one seed reuse them; generation is never inside a timed section.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: HVFHV trip files: six months of 2024 (Jan..Jun), one parquet per month
#: named like the TLC publishes them.
TRIP_MONTHS = [(2024, m) for m in range(1, 7)]
TRIP_ROWS_PER_FILE = 50_000
#: Self-check sizes (perfbench/selfcheck.py).
TINY_TRIP_ROWS, TINY_SF = 5_000, 0.001
N_ZONES = 265
#: Share of rows whose pickup_datetime is NULL (reference defect D3 input).
NULL_PICKUP_SHARE = 0.001
#: Month (1-based index into TRIP_MONTHS) rewritten at TIMESTAMP(NANOS) in
#: the drift-probe copy.
DRIFT_MONTH = 3

#: Scale factor of the registry fixture tables (TPC-H-like star schema plus
#: events, documents and embeddings; lineitem has about 60,000 rows at 0.01).
FIXTURE_SF = 0.01
#: Generated input sets kept per workload (most recently used first).
CACHE_KEEP = 3


def _ts_us(days_from_epoch: np.ndarray, secs: np.ndarray) -> np.ndarray:
    return (days_from_epoch.astype(np.int64) * 86_400 + secs.astype(np.int64)) * 1_000_000


def _epoch_day(d: dt.date) -> int:
    return (d - dt.date(1970, 1, 1)).days


def _month_days(year: int, month: int) -> list[dt.date]:
    first = dt.date(year, month, 1)
    nxt = dt.date(year + (month == 12), month % 12 + 1, 1)
    return [first + dt.timedelta(days=i) for i in range((nxt - first).days)]


def etl_day_list(seed: int) -> dict:
    """The ds list of one ``etl_daily`` pass and the generated empty day.

    Covers a leap day, both sides of a seed-chosen month boundary, a
    seed-chosen day the generator leaves without trips, and a replay of
    one of them (the keyed upsert must still hold one row). The order is
    shuffled by the seed; the replay comes last so it repeats an earlier op.
    """
    rng = np.random.default_rng([seed, 1])
    all_days = [d for y, m in TRIP_MONTHS for d in _month_days(y, m)]
    leap = dt.date(2024, 2, 29)
    month_ends = [d for d in all_days if (d + dt.timedelta(days=1)).day == 1 and d != leap][:-1]
    boundary = month_ends[int(rng.integers(len(month_ends)))]
    pool = [d for d in all_days if 3 <= d.day <= 27]
    empty = pool[int(rng.integers(len(pool)))]
    days = [leap, boundary, boundary + dt.timedelta(days=1), empty]
    days = [days[i] for i in rng.permutation(len(days))]
    days.append(days[int(rng.integers(len(days)))])
    return {"days": [d.isoformat() for d in days], "empty_day": empty.isoformat()}


def _zipf_zones(rng: np.random.Generator, n: int) -> np.ndarray:
    """Zipf-skewed zone ids 1..N_ZONES over a seed-permuted zone order."""
    ranks = np.arange(1, N_ZONES + 1, dtype=np.float64)
    p = ranks**-1.1
    p /= p.sum()
    order = rng.permutation(N_ZONES) + 1
    return order[rng.choice(N_ZONES, size=n, p=p)].astype(np.int64)


def _trip_month(rng: np.random.Generator, year: int, month: int, empty_day: dt.date, n: int) -> pa.Table:
    days = [d for d in _month_days(year, month) if d != empty_day]
    day = np.array([_epoch_day(d) for d in days])[rng.integers(len(days), size=n)]
    # Diurnal shape: more pickups in the evening than before dawn.
    secs = np.clip(rng.normal(16 * 3600, 5 * 3600, size=n), 0, 86_399).astype(np.int64)
    pickup = _ts_us(day, secs)
    wait = rng.integers(60, 900, size=n) * 1_000_000
    trip_time = rng.integers(120, 3600, size=n)
    miles = np.round(rng.gamma(2.0, 2.5, size=n), 2)
    fare = np.round(2.5 + miles * 2.2 + trip_time / 60 * 0.6, 2)
    null_pick = rng.random(n) < NULL_PICKUP_SHARE
    lic = np.array(["HV0003", "HV0005", "HV0004"])[rng.choice(3, size=n, p=[0.7, 0.25, 0.05])]
    base = np.array([f"B{i:05d}" for i in range(2500, 2540)])[rng.integers(40, size=n)]
    yn = np.array(["N", "Y"])

    def ts(a: np.ndarray, mask: np.ndarray | None = None) -> pa.Array:
        return pa.array(a, type=pa.timestamp("us"), mask=mask)

    def money(a: np.ndarray) -> pa.Array:
        return pa.array(np.round(a, 2), type=pa.float64())

    cols = {
        "hvfhs_license_num": pa.array(lic),
        "dispatching_base_num": pa.array(base),
        "originating_base_num": pa.array(base, mask=rng.random(n) < 0.3),
        "request_datetime": ts(pickup - wait),
        "on_scene_datetime": ts(pickup - wait // 2, rng.random(n) < 0.25),
        "pickup_datetime": ts(pickup, null_pick),
        "dropoff_datetime": ts(pickup + trip_time * 1_000_000),
        "PULocationID": pa.array(_zipf_zones(rng, n)),
        "DOLocationID": pa.array(_zipf_zones(rng, n)),
        "trip_miles": pa.array(miles),
        "trip_time": pa.array(trip_time.astype(np.int64)),
        "base_passenger_fare": money(fare),
        "tolls": money(np.where(rng.random(n) < 0.1, 6.94, 0.0)),
        "bcf": money(fare * 0.028),
        "sales_tax": money(fare * 0.08875),
        "congestion_surcharge": money(np.where(rng.random(n) < 0.6, 2.75, 0.0)),
        "airport_fee": money(np.where(rng.random(n) < 0.05, 2.5, 0.0)),
        "tips": money(np.where(rng.random(n) < 0.2, rng.gamma(2.0, 2.0, size=n), 0.0)),
        "driver_pay": money(fare * 0.72),
        "shared_request_flag": pa.array(yn[(rng.random(n) < 0.02).astype(int)]),
        "shared_match_flag": pa.array(yn[(rng.random(n) < 0.01).astype(int)]),
        "access_a_ride_flag": pa.array(np.full(n, "N")),
        "wav_request_flag": pa.array(yn[(rng.random(n) < 0.05).astype(int)]),
        "wav_match_flag": pa.array(yn[(rng.random(n) < 0.1).astype(int)]),
    }
    if month <= 2:  # the TLC added airport_fee in 2022; early files lack it here
        del cols["airport_fee"]
    return pa.table(cols)


def _trip_file(year: int, month: int) -> str:
    return f"fhvhv_tripdata_{year}-{month:02d}.parquet"


def gen_trips(seed: int, out_dir: str, rows_per_file: int) -> dict:
    """Write the six monthly HVFHV files to ``out_dir/trips`` and the
    drift-probe copy (month ``DRIFT_MONTH`` at TIMESTAMP(NANOS), the other
    months hard-linked) to ``out_dir/trips_ns``. Returns the manifest."""
    days = etl_day_list(seed)
    empty = dt.date.fromisoformat(days["empty_day"])
    trips, drift = os.path.join(out_dir, "trips"), os.path.join(out_dir, "trips_ns")
    os.makedirs(trips)
    os.makedirs(drift)
    rows = 0
    for i, (y, m) in enumerate(TRIP_MONTHS, start=1):
        table = _trip_month(np.random.default_rng([seed, 2, m]), y, m, empty, rows_per_file)
        rows += table.num_rows
        path = os.path.join(trips, _trip_file(y, m))
        pq.write_table(table, path, row_group_size=25_000)
        if i == DRIFT_MONTH:
            ns = table.cast(pa.schema([
                pa.field(f.name, pa.timestamp("ns") if pa.types.is_timestamp(f.type) else f.type)
                for f in table.schema
            ]))
            pq.write_table(ns, os.path.join(drift, _trip_file(y, m)), row_group_size=25_000)
        else:
            os.link(path, os.path.join(drift, _trip_file(y, m)))
    files = sorted(os.listdir(trips))
    return {
        **days,
        "rows": rows,
        "files": len(files),
        "bytes": sum(os.path.getsize(os.path.join(trips, f)) for f in files),
    }


_WORDS = (
    "a the data spark query table row column value key hash join sort merge "
    "group agg window filter scan part line order customer stream batch "
    "vector fast slow big small index plan cache shuffle task stage"
).split()


def _fixture_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev, n_doc, n_emb = int(1_500_000 * sf), int(1_000_000 * sf), int(50_000 * sf), 500
    n_users = max(10, int(15_000 * sf))

    def dates(lo: dt.date, hi: dt.date, n: int) -> np.ndarray:
        return rng.integers(_epoch_day(lo), _epoch_day(hi) + 1, size=n)

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, size=n), 2)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(25, size=n_cust).astype(np.int32)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(5, size=n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(25, size=n_supp).astype(np.int32)),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adj = np.array("blue old hot large cold small new red".split())
    noun = np.array("widget gizmo bolt plate anvil rod ring gear".split())
    pkey = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(pkey),
        "p_name": np.char.add(np.char.add(adj[rng.integers(8, size=n_part)], " "),
                              noun[rng.integers(8, size=n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, size=n_part).astype(str)),
        "p_type": np.array("ECONOMY STANDARD LARGE SMALL MEDIUM PROMO".split())[rng.integers(6, size=n_part)],
        "p_size": pa.array(rng.integers(1, 51, size=n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (pkey % 1000) / 10.0, 2),
    })
    odate = dates(dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(n_cust, size=n_ord).astype(np.int64)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(3, size=n_ord)],
        "o_totalprice": money(1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(_ts_us(odate, np.zeros(n_ord)), type=pa.timestamp("us")),
        "o_orderpriority": prio[rng.integers(5, size=n_ord)],
    })
    lines = rng.integers(1, 8, size=n_ord)
    lo = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = lo.size
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, size=n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lo),
        "l_partkey": pa.array(rng.integers(n_part, size=n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(n_supp, size=n_li).astype(np.int64)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, size=n_li), 2),
        "l_discount": rng.integers(0, 11, size=n_li) / 100.0,
        "l_tax": rng.integers(0, 9, size=n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(3, size=n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(2, size=n_li)],
        "l_shipdate": pa.array(
            _ts_us(odate[lo] + rng.integers(1, 96, size=n_li), np.zeros(n_li)),
            type=pa.timestamp("us"),
        ),
    })
    ev_us = np.sort(
        _epoch_day(dt.date(2024, 1, 1)) * 86_400_000_000
        + rng.integers(0, 30 * 86_400_000_000, size=n_ev)
    )
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ev_us, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(n_users, size=n_ev).astype(np.int64)),
        "event_type": np.array("click view purchase signup error".split())[rng.integers(5, size=n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, size=n_ev), 2)),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(100, size=n_ev).astype(str)), "}"),
    })
    words = np.array(_WORDS)
    text = [" ".join(words[rng.integers(len(words), size=k)]) for k in rng.integers(8, 100, size=n_doc)]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": text,
        "lang": np.array("en de fr es zh".split())[rng.choice(5, size=n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
        "source": np.char.add("src", (np.arange(n_doc) % 20).astype(str)),
        "n_chars": pa.array(np.array([len(s) for s in text], dtype=np.int64)),
    })
    label = rng.integers(10, size=n_emb)
    centers = rng.normal(0, 1, size=(10, 64))
    vec = centers[label] + rng.normal(0, 0.8, size=(n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
    return t


def gen_fixtures(seed: int, out_dir: str, sf: float) -> dict:
    """Write the registry fixture tables as ``out_dir/sf/<table>.parquet``."""
    sf_dir = os.path.join(out_dir, "sf")
    os.makedirs(sf_dir)
    rows = bytes_ = 0
    tables = _fixture_tables(seed, sf)
    for name, table in tables.items():
        path = os.path.join(sf_dir, f"{name}.parquet")
        pq.write_table(table, path)
        rows += table.num_rows
        bytes_ += os.path.getsize(path)
    return {"sf": sf, "rows": rows, "files": len(tables), "bytes": bytes_}


def cached_inputs(cache_root: str, workload: str, seed: int, tiny: bool = False) -> tuple[str, dict]:
    """Generate (or reuse) the inputs of ``workload`` for ``seed``.

    Returns the input directory and its manifest. Generation writes into
    a temporary sibling and renames it into place, so an interrupted run
    never leaves a half-written cache entry; only the ``CACHE_KEEP`` most
    recently used entries of a workload are kept on disk.
    """
    final = os.path.join(cache_root, f"{workload}-{seed}{'-tiny' if tiny else ''}")
    manifest = os.path.join(final, "manifest.json")
    if not os.path.exists(manifest):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        if workload == "etl_daily":
            info = gen_trips(seed, tmp, TINY_TRIP_ROWS if tiny else TRIP_ROWS_PER_FILE)
        else:
            info = gen_fixtures(seed, tmp, TINY_SF if tiny else FIXTURE_SF)
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(info, f)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    os.utime(final)
    entries = sorted(
        (e for e in os.scandir(cache_root) if e.name.startswith(f"{workload}-") and ".tmp" not in e.name),
        key=lambda e: e.stat().st_mtime,
        reverse=True,
    )
    for e in entries[CACHE_KEEP:]:
        shutil.rmtree(e.path, ignore_errors=True)
    with open(manifest) as f:
        return final, json.load(f)
