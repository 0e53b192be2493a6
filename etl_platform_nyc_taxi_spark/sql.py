"""SQL entry point: registered views + ``spark.sql`` queries.

The reference drives Spark exclusively through the DataFrame API (no SQL
string anywhere — SURVEY.md §3), but a complete engine exposes the
declarative surface too: the same Catalyst planner optimizes both, and SQL
is how ad-hoc users and BI tools reach the data. This module registers the
fixture tables as temp views once per (session, sf_dir) and runs ANSI SQL
against them.

Scale note: temp-view registration is pure metadata (no scan, no cache);
the physical plan of ``spark.sql(q)`` is identical to the equivalent
DataFrame chain, so everything said about pushdown/pruning/broadcast in
the operator modules applies unchanged here.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession

from etl_platform_nyc_taxi_spark.schema import FIXTURE_TABLES
from etl_platform_nyc_taxi_spark.sources.parquet import load_fixture

# Session -> registered sf_dir. Weak keys: a dead session's entry vanishes
# with it (id()-keying would let CPython recycle the id for a NEW session
# and silently skip its registration, and stale entries would accumulate).
_REGISTERED: "weakref.WeakKeyDictionary[SparkSession, str]" = (
    weakref.WeakKeyDictionary()
)


def register_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = FIXTURE_TABLES
) -> None:
    """Register each fixture table as a temp view named after itself.

    Idempotent per (session, sf_dir); re-registering after switching
    ``sf_dir`` replaces the views (last registration wins, like a catalog
    ``USE``).
    """
    if _REGISTERED.get(spark) == sf_dir:
        return
    for t in tables:
        load_fixture(spark, sf_dir, t).createOrReplaceTempView(t)
    _REGISTERED[spark] = sf_dir


def run_sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Run ANSI SQL over the registered fixture views."""
    register_tables(spark, sf_dir)
    return spark.sql(query)
