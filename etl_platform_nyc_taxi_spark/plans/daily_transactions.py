"""Daily-transactions pipeline — the reference's flagship query, corrected.

Reference semantics (dags/spark_jobs/calculate_daily_transactions.py:48-106):
scan all monthly parquet → derive ``transaction_date = to_date(pickup)`` →
filter to one day → count → collect → rebuild 1-row DF with audit ts →
JDBC append.

Engine corrections (SURVEY.md §2.9):
  C2  no collect-then-rebuild — audit column added in-plan;
  C3  zero-fill preserved (empty day ⇒ a ``(day, 0)`` row) without collect:
      a global aggregate returns exactly one row by construction, so no
      day anchor, join or broadcast is needed;
  D2  sink is idempotent upsert, not bare append;
  D4  UTC pinned by the session layer;
  §4  the day filter is a raw timestamp range (sargable → parquet row-group
      pruning), not ``to_date(col) == d`` which scans every month for one
      day.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_platform_nyc_taxi_spark.functions.dates import derive_date, ts_on_date


def daily_counts(
    df: DataFrame,
    ts_col: str = "pickup_datetime",
    date_name: str = "transaction_date",
    count_name: str = "total_transactions",
) -> DataFrame:
    """All-days variant: one row per calendar day with its row count."""
    return (
        df.filter(F.col(ts_col).isNotNull())  # D3 made explicit
        .select(derive_date(ts_col, date_name))
        .groupBy(date_name)
        .agg(F.count(F.lit(1)).alias(count_name))
    )


def daily_transactions(
    df: DataFrame,
    day: dt.date | str,
    ts_col: str = "pickup_datetime",
    date_name: str = "transaction_date",
    count_name: str = "total_transactions",
    audit: bool = True,
) -> DataFrame:
    """Single-day count with zero-fill and audit timestamp — the corrected
    reference job 1, one Catalyst plan, no driver round-trips.

    Plan: pruned scan (ts range pushed to parquet) → global count →
    literal day + audit projection. Output schema matches the reference's
    ``daily_transaction`` table contract.
    """
    day = dt.date.fromisoformat(day) if isinstance(day, str) else day
    out = (
        df.filter(ts_on_date(ts_col, day, df=df))
        .agg(F.count(F.lit(1)).alias(count_name))
        .select(F.lit(day).alias(date_name), count_name)
    )
    # C4 sanity parity note: the reference asserts count >= 0 here. That
    # check is vacuous by construction (the column comes from F.count,
    # always >= 0) and require_nonnegative runs an EAGER action — it
    # would execute the whole plan at build time, doubling the job. The
    # assertion stays available in plans/quality.py for genuinely-unknown
    # inputs and is pytest-proven there; this hot path keeps its one-plan
    # contract.
    if audit:
        out = out.withColumn("calculated_at", F.current_timestamp())
    return out
