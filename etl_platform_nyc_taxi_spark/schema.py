"""Driver-fixture table names.

The reference handles trip schema in two modes (SURVEY.md §1.3): job 1
forces an explicit 24-column StructType onto the scan
(reference: dags/spark_jobs/calculate_daily_transactions.py:19-46,50) and
job 2 probes each file's footer and re-reads with the harvested schema
(reference: dags/spark_jobs/calculate_top_taxi_zones.py:21-27). The engine
subsumes both with one ``mergeSchema`` scan
(``sources.parquet.read_parquet_auto``), which resolves drift across file
generations by field name; a caller that must impose a schema uses
``spark.read.schema(s).parquet(p)``.
"""

from __future__ import annotations

#: Driver fixture tables (FIXTURES.md §B) available at
#: /root/testdata/sf{0.001,0.01,0.1}/<name>.parquet.
FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
