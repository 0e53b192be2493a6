"""CLI entry point (SURVEY.md §2.11 G8) — the reference's spark-submit
contract without the Airflow coupling.

Reference argv contract (dags/spark_jobs/calculate_daily_transactions.py:
114-130 and calculate_top_taxi_zones.py:94-109)::

    python job.py <ds> <data_path> <db_conn_id> <table>

where ``db_conn_id`` resolved credentials from Airflow's metadata DB via
BaseHook — a hidden orchestration coupling. Here the sink is explicit::

    python -m etl_platform_nyc_taxi_spark <job> <ds> <data_path> <sink> <table>

* ``job``: ``daily_transactions`` | ``top_zones``
* ``ds``: ISO date — the day to count / the ranking cutoff
* ``data_path``: parquet file/dir/glob of trip data
* ``sink``: a ``jdbc:`` URL (credentials via ``--user``/``$SPARK_GRAFT_DB_
  PASSWORD``) or a filesystem directory (parquet sink: ``<sink>/<table>``)
* ``table``: target table name (or parquet subdirectory)

The run is a :class:`plans.runner.Pipeline` — sensor gate, DDL, compute +
write — with the reference's retry policy (1 retry / 300 s,
daily_transactions_dag.py:30-31,58-65) overridable per flag. The write is
idempotent where the reference's wasn't: daily counts upsert their key
window (D2 fix), zone ranks truncate-overwrite.
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import DataFrame, SparkSession

#: Column DDL per job, quoted so case-sensitive dialects (Derby) match
#: Spark's quoted-identifier INSERTs; types follow the reference DDL
#: (dags/daily_transactions_dag.py:35-39, daily_topfive_taxi_zone_dag.py:35-39).
DAILY_DDL = (
    '"transaction_date" DATE PRIMARY KEY, '
    '"total_transactions" INTEGER, '
    '"calculated_at" TIMESTAMP'
)
ZONES_DDL = '"taxi_zone_id" BIGINT, "rank" INTEGER, "calculated_at" TIMESTAMP'

#: jdbc: URL prefix → driver class (overridable with --driver).
_DRIVERS = {
    "jdbc:postgresql": "org.postgresql.Driver",
    "jdbc:derby": "org.apache.derby.iapi.jdbc.AutoloadedDriver",
    "jdbc:sqlite": "org.sqlite.JDBC",
    "jdbc:h2": "org.h2.Driver",
}


def _infer_driver(url: str) -> str:
    for prefix, driver in _DRIVERS.items():
        if url.startswith(prefix):
            return driver
    return "org.postgresql.Driver"


def _compute(args: argparse.Namespace, spark: SparkSession) -> DataFrame:
    from etl_platform_nyc_taxi_spark.plans.daily_transactions import daily_transactions
    from etl_platform_nyc_taxi_spark.plans.top_zones import top_k_zones
    from etl_platform_nyc_taxi_spark.sources.parquet import read_parquet_auto

    df = read_parquet_auto(spark, args.data_path)
    if args.job == "daily_transactions":
        return daily_transactions(df, args.ds, ts_col=args.ts_col)
    return top_k_zones(df, args.ds, zone_col=args.zone_col, ts_col=args.ts_col, k=args.k)


def _write(args: argparse.Namespace, spark: SparkSession, df: DataFrame) -> None:
    if args.sink.startswith("jdbc:"):
        from etl_platform_nyc_taxi_spark.sources.jdbc import (
            JdbcConfig,
            ensure_table,
            write_jdbc_overwrite,
            write_jdbc_upsert,
        )

        cfg = JdbcConfig(
            url=args.sink,
            user=args.user,
            password=os.environ.get("SPARK_GRAFT_DB_PASSWORD", ""),
            driver=args.driver or _infer_driver(args.sink),
        )
        ddl = DAILY_DDL if args.job == "daily_transactions" else ZONES_DDL
        ensure_table(spark, cfg, args.table, ddl)
        if args.job == "daily_transactions":
            # CAST form: portable date literal (Derby lacks DATE '...')
            write_jdbc_upsert(
                df, cfg, args.table,
                f"\"transaction_date\" = CAST('{args.ds}' AS DATE)",
            )
        else:
            write_jdbc_overwrite(df, cfg, args.table)
    else:
        df.write.mode("overwrite").parquet(os.path.join(args.sink, args.table))


def build_pipeline(args: argparse.Namespace, spark: SparkSession):
    """The reference DAG shape as a scheduler-agnostic Pipeline:
    sense → (ddl +) compute+write, with task-level retries."""
    from etl_platform_nyc_taxi_spark.plans.quality import observed_metrics
    from etl_platform_nyc_taxi_spark.plans.runner import Pipeline, Step, wait_for
    from etl_platform_nyc_taxi_spark.sources.parquet import list_parquet_files

    def sense() -> bool:
        return bool(list_parquet_files(args.data_path))

    def run_job() -> int:
        # The row count is observed during the write, not re-counted by a
        # second execution. A fresh Observation per attempt: one can be
        # attached to a DataFrame only once, so a retry must not reuse it.
        df, obs = observed_metrics(_compute(args, spark))
        _write(args, spark, df)
        return obs.get["n_rows"]

    return Pipeline(
        # '_' not '@': pipeline.name doubles as the Airflow dag_id via
        # plans/airflow_adapter.to_airflow_dag, and dag_id charset is [\w.-]
        name=f"{args.job}_{args.ds}",
        steps=[
            Step(
                "sense_input",
                lambda: wait_for(
                    sense,
                    poke_interval_s=args.poke_interval,
                    timeout_s=args.sensor_timeout,
                    name="input_files",
                ),
                retries=0,
            ),
            Step(
                "compute_and_write",
                run_job,
                retries=args.retries,
                retry_delay_s=args.retry_delay,
            ),
        ],
    )


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="python -m etl_platform_nyc_taxi_spark")
    p.add_argument("job", choices=["daily_transactions", "top_zones"])
    p.add_argument("ds", help="ISO date: day to count / ranking cutoff")
    p.add_argument("data_path", help="parquet file/dir/glob of trip data")
    p.add_argument("sink", help="jdbc: URL or output directory")
    p.add_argument("table", help="target table / parquet subdirectory")
    p.add_argument("--ts-col", default="pickup_datetime")
    p.add_argument("--zone-col", default="PULocationID")
    p.add_argument("-k", type=int, default=5, help="top-k for top_zones")
    p.add_argument("--user", default=os.environ.get("SPARK_GRAFT_DB_USER", ""))
    p.add_argument("--driver", default=None, help="JDBC driver class override")
    p.add_argument("--poke-interval", type=float, default=300.0)
    p.add_argument("--sensor-timeout", type=float, default=1800.0)
    p.add_argument("--retries", type=int, default=1)
    p.add_argument("--retry-delay", type=float, default=300.0)
    return p.parse_args(argv)


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    """Run one job end-to-end. ``spark=None`` builds (and owns) a session;
    passing one (tests, notebooks) leaves its lifecycle to the caller."""
    from etl_platform_nyc_taxi_spark.session import get_spark

    args = parse_args(argv)
    owns_session = spark is None
    spark = spark or get_spark(f"etl_platform_nyc_taxi_spark.{args.job}")
    try:
        results = build_pipeline(args, spark).run()
        rows = results.get("compute_and_write")
        print(f"{args.job} ds={args.ds} -> {args.table}: {rows} row(s)")
        return 0
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
