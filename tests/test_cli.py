"""CLI entry point (G8): `python -m etl_platform_nyc_taxi_spark` runs the
two flagship pipelines end-to-end — reference argv contract
(dags/spark_jobs/calculate_daily_transactions.py:114-130) minus the
BaseHook coupling. Parquet sink and embedded-Derby JDBC sink both land."""

from __future__ import annotations

import datetime as dt

import pytest

from etl_platform_nyc_taxi_spark.__main__ import main, parse_args


@pytest.fixture
def trip_data(spark, tmp_path):
    """Synthetic trip data honoring the reference schema contract
    (pickup_datetime + PULocationID, README.md:57,101)."""
    rows = [
        (dt.datetime(2024, 6, 1, 8, 0), 132),
        (dt.datetime(2024, 6, 1, 9, 0), 132),
        (dt.datetime(2024, 6, 1, 10, 0), 7),
        (dt.datetime(2024, 6, 2, 8, 0), 7),
        (None, 99),  # null pickup: excluded, as in the corrected plan
    ]
    src = str(tmp_path / "tripdata")
    spark.createDataFrame(
        rows, "pickup_datetime timestamp, PULocationID long"
    ).write.mode("overwrite").parquet(src)
    return src


def _argv(job, ds, src, sink, table, *extra):
    return [job, ds, src, sink, table, "--poke-interval", "0.1",
            "--sensor-timeout", "5", "--retries", "0", *extra]


def test_cli_daily_transactions_parquet_sink(spark, trip_data, tmp_path):
    out = str(tmp_path / "out")
    rc = main(
        _argv("daily_transactions", "2024-06-01", trip_data, out, "daily_transaction"),
        spark=spark,
    )
    assert rc == 0
    got = spark.read.parquet(f"{out}/daily_transaction").collect()
    assert len(got) == 1
    assert got[0]["transaction_date"] == dt.date(2024, 6, 1)
    assert got[0]["total_transactions"] == 3
    assert got[0]["calculated_at"] is not None


def test_cli_daily_transactions_glob_data_path(spark, trip_data, tmp_path):
    """``data_path`` may be a glob: the sensor fires on its matches."""
    out = str(tmp_path / "out")
    rc = main(
        _argv("daily_transactions", "2024-06-01", f"{trip_data}/*.parquet", out,
              "daily_transaction"),
        spark=spark,
    )
    assert rc == 0
    got = spark.read.parquet(f"{out}/daily_transaction").collect()
    assert [(r["transaction_date"], r["total_transactions"]) for r in got] == [
        (dt.date(2024, 6, 1), 3)
    ]


def test_cli_daily_transactions_zero_fill(spark, trip_data, tmp_path):
    """C3: a day with no rows still lands a (day, 0) row."""
    out = str(tmp_path / "out")
    main(
        _argv("daily_transactions", "2024-07-15", trip_data, out, "daily_transaction"),
        spark=spark,
    )
    got = spark.read.parquet(f"{out}/daily_transaction").collect()
    assert len(got) == 1 and got[0]["total_transactions"] == 0


def test_cli_top_zones_parquet_sink(spark, trip_data, tmp_path):
    out = str(tmp_path / "out")
    rc = main(
        _argv("top_zones", "2024-06-02", trip_data, out, "daily_topfive_taxi_zone"),
        spark=spark,
    )
    assert rc == 0
    got = {
        r["taxi_zone_id"]: r["rank"]
        for r in spark.read.parquet(f"{out}/daily_topfive_taxi_zone").collect()
    }
    # zone 7: 2 trips ≤ cutoff; zone 132: 2 trips — dense_rank ties at 1
    assert got == {7: 1, 132: 1}


def test_cli_jdbc_sink_upsert_idempotent(spark, trip_data, tmp_path):
    """Full CLI → embedded Derby path: create table, upsert, re-run (the
    Airflow-retry scenario) — converges instead of violating the PK."""
    url = f"jdbc:derby:{tmp_path}/clidb;create=true"
    argv = _argv(
        "daily_transactions", "2024-06-01", trip_data, url, "daily_transaction"
    )
    assert main(argv, spark=spark) == 0
    assert main(argv, spark=spark) == 0  # replay converges (D2 fix)

    from etl_platform_nyc_taxi_spark.__main__ import _infer_driver
    from etl_platform_nyc_taxi_spark.sources.jdbc import JdbcConfig, read_jdbc

    cfg = JdbcConfig(url=url, driver=_infer_driver(url))
    got = read_jdbc(spark, cfg, "daily_transaction").collect()
    assert len(got) == 1 and got[0]["total_transactions"] == 3


def _jobs_in_group(spark, group, fn) -> int:
    """Spark jobs ``fn`` starts, counted through a job group of its own."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)  # deliver job events
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "job, ds, most", [("daily_transactions", "2024-06-01", 3), ("top_zones", "2024-06-02", 4)]
)
def test_cli_run_executes_its_plan_once(spark, trip_data, tmp_path, job, ds, most):
    """A warm run executes its plan once: the row count is observed during
    the write (no post-write ``count()``) and the daily zero-fill is a
    global aggregate (no day-anchor job). A post-write count plus a
    broadcast anchor took 8 jobs per daily run and 7 per top-zones run."""
    argv = _argv(job, ds, trip_data, str(tmp_path / "out"), "t")
    assert main(argv, spark=spark) == 0  # warm-up
    n = _jobs_in_group(spark, f"{job}-{tmp_path.name}", lambda: main(argv, spark=spark))
    assert 1 <= n <= most


def _read_back(spark, sink, table):
    if sink.startswith("jdbc:"):
        from etl_platform_nyc_taxi_spark.__main__ import _infer_driver
        from etl_platform_nyc_taxi_spark.sources.jdbc import JdbcConfig, read_jdbc

        return read_jdbc(spark, JdbcConfig(url=sink, driver=_infer_driver(sink)), table)
    return spark.read.parquet(f"{sink}/{table}")


@pytest.mark.parametrize(
    "job, ds, sink_kind, extra, want",
    [
        ("daily_transactions", "2024-06-01", "parquet", (), 1),
        ("daily_transactions", "2024-07-15", "parquet", (), 1),  # zero-fill
        ("daily_transactions", "2024-06-01", "jdbc", (), 1),
        # zones 7 and 132 tie at rank 1: k=1 keeps two rows
        ("top_zones", "2024-06-02", "parquet", ("-k", "1"), 2),
        ("top_zones", "2024-06-02", "jdbc", ("-k", "1"), 2),
        ("top_zones", "2024-05-01", "parquet", (), 0),  # nothing before cutoff
    ],
)
def test_cli_printed_rows_match_written(
    spark, trip_data, tmp_path, capsys, job, ds, sink_kind, extra, want
):
    sink = (
        f"jdbc:derby:{tmp_path}/rowsdb;create=true"
        if sink_kind == "jdbc"
        else str(tmp_path / "out")
    )
    assert main(_argv(job, ds, trip_data, sink, "t", *extra), spark=spark) == 0
    written = _read_back(spark, sink, "t").count()
    assert written == want
    assert f"-> t: {written} row(s)" in capsys.readouterr().out


def test_build_pipeline_retry_counts_with_a_fresh_observation(
    spark, trip_data, tmp_path, monkeypatch
):
    """The first attempt writes (filling its observation) and then fails;
    the retry must build a new observation — reusing one raises — and
    return the retried write's row count."""
    from etl_platform_nyc_taxi_spark import __main__ as cli

    real_write, calls = cli._write, []

    def write_then_fail_once(args, spark_, df):
        real_write(args, spark_, df)
        calls.append(df)
        if len(calls) == 1:
            raise RuntimeError("transient sink failure")

    monkeypatch.setattr(cli, "_write", write_then_fail_once)
    args = parse_args(
        _argv("top_zones", "2024-06-02", trip_data, str(tmp_path / "out"), "t",
              "-k", "1", "--retries", "1", "--retry-delay", "0")
    )
    results = cli.build_pipeline(args, spark).run()
    assert len(calls) == 2 and calls[0] is not calls[1]
    assert results["compute_and_write"] == 2
    assert spark.read.parquet(str(tmp_path / "out" / "t")).count() == 2


def test_cli_sensor_times_out_on_missing_input(spark, tmp_path):
    from etl_platform_nyc_taxi_spark.plans.runner import SensorTimeout

    with pytest.raises(SensorTimeout):
        main(
            _argv(
                "daily_transactions",
                "2024-06-01",
                str(tmp_path / "nowhere"),
                str(tmp_path / "out"),
                "t",
            )[:-4] + ["--poke-interval", "0.05", "--sensor-timeout", "0.2",
                      "--retries", "0"],
            spark=spark,
        )


def test_parse_args_defaults_match_reference():
    a = parse_args(["daily_transactions", "2024-06-01", "/d", "jdbc:postgresql://x/db", "t"])
    assert a.ts_col == "pickup_datetime" and a.zone_col == "PULocationID"
    assert a.retries == 1 and a.retry_delay == 300.0  # dag:30-31
    assert a.poke_interval == 300.0 and a.sensor_timeout == 1800.0  # dag:61-62
